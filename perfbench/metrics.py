"""The metric contract in BENCHMARK.json and the result line built from it."""

from __future__ import annotations

import json
import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_name(name: str) -> str:
    if not isinstance(name, str) or not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric or workload name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r}")
    return unit


class Spec:
    """Workload names and the two metric lists of BENCHMARK.json."""

    def __init__(self, doc: dict):
        self.workloads = [check_name(w["name"]) for w in doc["workloads"]]
        self.end_to_end = {
            check_name(m["name"]): check_unit(m["unit"]) for m in doc["end_to_end"]
        }
        self.per_layer = {
            check_name(m["name"]): check_unit(m["unit"]) for m in doc["per_layer"]
        }
        names = self.workloads + list(self.end_to_end) + list(self.per_layer)
        dup = {n for n in names if names.count(n) > 1}
        if dup:
            raise ValueError(f"names used more than once: {sorted(dup)}")

    @classmethod
    def load(cls, path: str) -> "Spec":
        with open(path) as fh:
            return cls(json.load(fh))

    def metrics_for(self, trace: bool) -> dict[str, str]:
        return self.per_layer if trace else self.end_to_end


def result_line(
    spec: Spec,
    trace: bool,
    values: dict[str, float],
    correct: bool,
    attempted: int,
    failed: int,
) -> str:
    """The final stdout line. Refuses a metric set that differs from the
    contract or a value that is not a finite number."""
    wanted = spec.metrics_for(trace)
    if set(values) != set(wanted):
        raise ValueError(
            f"metrics {sorted(values)} do not match the contract {sorted(wanted)}"
        )
    for name, v in values.items():
        number = isinstance(v, (int, float)) and not isinstance(v, bool)
        if not number or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(values[name]), "unit": wanted[name]}
                for name in wanted
            },
        }
    )
