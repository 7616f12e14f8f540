"""The package has one code path per mechanism: only the deployment
settings (session.py) and the CLI's CPU override (cli.py) read the
environment. Any other module reading it is a code-path toggle."""

from __future__ import annotations

import ast
from pathlib import Path

import hortacloud_importer_spark

PKG = Path(hortacloud_importer_spark.__file__).parent
ALLOWED = {PKG / "session.py", PKG / "cli.py"}
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ENV_NAMES
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ENV_NAMES for a in node.names):
                lines.append(node.lineno)
    return lines


def test_only_session_and_cli_read_the_environment():
    offenders = {
        str(path.relative_to(PKG)): lines
        for path in sorted(PKG.rglob("*.py"))
        if path not in ALLOWED
        and (lines := _env_reads(ast.parse(path.read_text(), str(path))))
    }
    assert offenders == {}
