"""``octree_build``: the paper's job, TIFF slices -> octree -> KTX.

One pass is four calls: ``build_octree`` and ``tiff_octree_to_ktx``
into fresh directories, then both again with ``resume=True`` over the
store the first two just committed, so every block is skipped. The
first pass's store feeds the traced run's probes.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from statistics import median

import numpy as np

from perfbench import fixtures, host, layers, sparkstat
from perfbench.harness import Run, start_session
from perfbench.trace import Tracer

DIMS = (16, 256, 256)  # z, y, x per channel
CHANNELS = 2
NLEVELS = 3
N_MIPS = 4
FILTER = "arthur"
GRID = 1 << (NLEVELS - 1)  # leaf blocks per axis
BLOCK = tuple(d // GRID for d in DIMS)
PROBE_S = 0.2  # shortest sweep of one kernel in the roofline probe


def _block_path(store: str, level: int, zi: int, yi: int, xi: int, ch: int) -> str:
    from hortacloud_importer_spark.volume.geometry import octree_path_digits

    digits = octree_path_digits(zi, yi, xi, NLEVELS - 1 - level)
    rel = "/".join(str(d) for d in digits)
    return os.path.join(store, rel, f"default.{ch}.tif")


class Expected:
    """Every level of the generated volume, halved with the program's
    own NumPy kernel, and the block counts the stores must hold."""

    def __init__(self, vols: list[np.ndarray]):
        from hortacloud_importer_spark.volume.downsample import np_halve

        self.levels = []  # levels[level][ch]
        cur = [v.astype(np.int64) for v in vols]
        for level in range(NLEVELS):
            self.levels.append(cur)
            if level < NLEVELS - 1:
                cur = [np_halve(v, FILTER) for v in cur]
        self.blocks = []  # blocks[level] = set of (zi, yi, xi, ch) holding data
        for level, per_ch in enumerate(self.levels):
            grid = GRID >> level
            self.blocks.append(
                {
                    (zi, yi, xi, ch)
                    for ch, v in enumerate(per_ch)
                    for zi in range(grid)
                    for yi in range(grid)
                    for xi in range(grid)
                    if self.block(level, zi, yi, xi, ch).any()
                }
            )
        self.ktx_files = len(
            {
                (lv, zi, yi, xi)
                for lv, bl in enumerate(self.blocks)
                for zi, yi, xi, _ in bl
            }
        )

    def block(self, level: int, zi: int, yi: int, xi: int, ch: int) -> np.ndarray:
        bz, by, bx = BLOCK
        return self.levels[level][ch][
            zi * bz : (zi + 1) * bz, yi * by : (yi + 1) * by, xi * bx : (xi + 1) * bx
        ]


def _check_store(store: str, exp: Expected) -> str | None:
    """Decode every leaf block and one level-1 block; None when all match."""
    from hortacloud_importer_spark.sources.tiff import decode_tiff

    wanted = [(0, *key) for key in sorted(exp.blocks[0])]
    wanted.append((1, *min(exp.blocks[1])))
    for level, zi, yi, xi, ch in wanted:
        path = _block_path(store, level, zi, yi, xi, ch)
        try:
            with open(path, "rb") as fh:
                got = decode_tiff(fh.read())
        except OSError:
            return f"missing block {path}"
        if not np.array_equal(got.reshape(BLOCK), exp.block(level, zi, yi, xi, ch)):
            return f"block {path} differs from the generated volume"
    return None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Octree:
    def __init__(self, run: Run):
        self.run = run
        self.slices = os.path.join(run.work, "slices")
        self.vols = fixtures.volume(run.seed, DIMS, CHANNELS)
        self.raw_bytes = fixtures.write_slices(self.slices, self.vols)
        self.exp = Expected(self.vols)
        self.spark = None
        self.groups: list[str] = []

    def _call(self, label: str, fn, *args, **kwargs):
        sc = self.spark.sparkContext
        group = f"{label}-{len(self.groups)}"
        self.groups.append(group)
        with sparkstat.job_group(sc, group):
            t0 = time.perf_counter()
            out = self.run.guarded(label, fn, *args, **kwargs)
            return out, time.perf_counter() - t0

    def one_pass(self, tag: str, tracer: Tracer | None = None) -> dict | None:
        """The four calls; returns their times, or None if one raised."""
        from hortacloud_importer_spark.pipelines import build_octree, tiff_octree_to_ktx

        store = os.path.join(self.run.work, "octree", tag)
        ktx = os.path.join(self.run.work, "ktx", tag)

        def build(resume: bool):
            return build_octree(
                self.spark, self.slices, store, nlevels=NLEVELS, filter_=FILTER,
                channels=CHANNELS, resume=resume,
            ).collect()

        def convert(resume: bool):
            return tiff_octree_to_ktx(
                self.spark, store, ktx, block_dims=BLOCK, n_mips=N_MIPS, filter_=FILTER,
                interleave=True, downsample_intensity=True, resume=resume,
            ).collect()

        calls = (
            ("build_s", "pipelines.build_octree", build, False),
            ("ktx_s", "pipelines.tiff_octree_to_ktx", convert, False),
            ("resume_build_s", "pipelines.build_octree", build, True),
            ("resume_ktx_s", "pipelines.tiff_octree_to_ktx", convert, True),
        )
        times, outs = {}, {}
        t_pass = time.perf_counter()
        with tracer.span("pass", "benchmark") if tracer else nullcontext():
            for key, span, fn, resume in calls:
                if tracer is not None:
                    fn = tracer.wrap(
                        fn, span + (".resume" if resume else ""), "pipelines"
                    )
                outs[key], times[key] = self._call(key, fn, resume)
        times["pass_s"] = time.perf_counter() - t_pass
        self.outputs = (store, ktx)
        self.summaries = outs
        self._check(tag, store, outs)
        return times if all(v is not None for v in outs.values()) else None

    def _check(self, tag: str, store: str, outs: dict) -> None:
        """Count each call that returned, against its expected output (a
        call that raised is already counted)."""
        exp = self.exp
        build = outs["build_s"]
        if build is not None:
            written = {r["level"]: r["n_blocks_written"] for r in build}
            want = {lv: len(b) for lv, b in enumerate(exp.blocks)}
            problem = None if written == want else f"blocks written {written} != {want}"
            problem = problem or _check_store(store, exp)
            self.run.attempt(problem is None, f"{tag} build_octree: {problem}")
        for key in ("ktx_s", "resume_ktx_s"):
            rows = outs[key]
            if rows is not None:
                got = (rows[0]["n_files"], rows[0]["n_mips"])
                self.run.attempt(
                    got == (exp.ktx_files, N_MIPS),
                    f"{tag} {key}: (n_files, n_mips) {got}"
                    f" != {(exp.ktx_files, N_MIPS)}",
                )
        rows = outs["resume_build_s"]
        if rows is not None:
            written = sum(r["n_blocks_written"] for r in rows)
            self.run.attempt(written == 0, f"{tag} resume wrote {written} blocks")


def run_octree(run: Run) -> dict[str, float]:
    """One pass is measured: a fresh session's first build, as a user
    running the pipeline once pays it. It takes 30-50 s, longer than
    ``run.seconds``. A traced run traces that pass."""
    w = Octree(run)
    run.put("volume_mib", w.raw_bytes / 2**20, "MiB", f"{DIMS} x {CHANNELS} ch uint16")
    spark = w.spark = start_session(run)
    tracer = _trace_points(run) if run.trace else None
    steal0, cpu0 = host.steal_s(), host.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    try:
        with host.RssSampler() as rss:
            first = w.one_pass("p0", tracer)
            cpu, wall = host.tree_cpu_s(os.getpid()) - cpu0, time.perf_counter() - t0
            steal = host.steal_s() - steal0
    finally:
        if tracer is not None:
            tracer.unpatch()
    run.mark("first_pass")
    if first is None:
        raise RuntimeError("a call of the first octree pass raised")
    stats = sparkstat.group_stats(spark.sparkContext, w.groups)
    run.details["spark_per_call"] = {
        g: sparkstat.group_stats(spark.sparkContext, [g]) for g in w.groups
    }
    first_store, first_ktx = w.outputs
    for key in ("build_s", "ktx_s", "resume_build_s", "resume_ktx_s"):
        run.put(key, first[key], "s")
    resume_s = first["resume_build_s"] + first["resume_ktx_s"]
    run.put("resume_s", resume_s, "s", "both resumed calls")
    mib_s = w.raw_bytes / 2**20 / (first["build_s"] + first["ktx_s"])
    run.put("voxel_mbps", mib_s, "MiB/s", "raw voxel MiB / (build_s + ktx_s)")
    stored = _dir_bytes(first_store) + _dir_bytes(first_ktx)
    run.put(
        "stored_bytes_ratio", stored / w.raw_bytes, "ratio",
        "octree + KTX bytes / raw voxel bytes",
    )
    metrics = {
        "setup_s": run.value("setup_s"),
        "pass_s": run.put(
            "pass_s", first["pass_s"], "s",
            "first pass: fresh build + ktx, then both resumed",
        ),
        "peak_rss_mb": run.put(
            "peak_rss_mb", rss.peak_kb / 1024, "MiB",
            f"process tree, {rss.samples} samples",
        ),
    }
    run.put("cpu_s", cpu, "s", "process-tree CPU time of the first pass")
    per_layer = {"session.start_s": run.value("session.start_s")}
    per_layer.update(layers.host_lines(run, cpu, wall, steal))
    per_layer.update(layers.spark_lines(run, stats, first["pass_s"]))
    if run.trace:
        per_layer.update(_traced(run, w, tracer, first, first_store))
    run.put("fail_ratio", run.failed / max(run.attempted, 1), "share")
    return per_layer if run.trace else metrics


def _rate_mibps(fn, items: list, nbytes: int) -> float:
    """Single-core MiB/s of ``fn`` over ``items`` (``nbytes`` per sweep),
    sweeping for at least ``PROBE_S``."""
    sweeps, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        sweeps += 1
        dt = time.perf_counter() - t0
        if dt >= PROBE_S:
            return sweeps * nbytes / 2**20 / dt


def _kernel_probe(
    run: Run, w: Octree, store: str, build_s: float, ktx_s: float
) -> None:
    """Roofline: the public kernels timed single-core on this run's own
    blocks, and the floor they put under build_s and ktx_s."""
    from hortacloud_importer_spark.sources.ktx import (
        KtxHeader,
        encode_ktx,
        interleave_channels,
    )
    from hortacloud_importer_spark.sources.tiff import decode_tiff, encode_tiff
    from hortacloud_importer_spark.volume import geometry as G
    from hortacloud_importer_spark.volume.downsample import np_halve

    keys = sorted(w.exp.blocks[0])[:16]
    payloads = []
    for key in keys:
        with open(_block_path(store, 0, *key), "rb") as fh:
            payloads.append(fh.read())
    blocks = [decode_tiff(p).reshape(BLOCK) for p in payloads]
    nbytes = sum(b.nbytes for b in blocks)
    slices = []
    for z in range(4):
        with open(os.path.join(w.slices, f"default.0.{z:05d}.tif"), "rb") as fh:
            slices.append(fh.read())
    slice_bytes = 4 * DIMS[1] * DIMS[2] * 2

    def requant(b):
        hist = np.bincount(b.ravel(), minlength=G.N_BINS)
        black, white, gamma = G.intensity_downsample_params(G.nonzero_percentiles(hist))
        return G.requantize(b, black, white, gamma)

    def mip_chain(b):
        levels = [b.astype(np.int32)]
        for _ in range(1, N_MIPS):
            levels.append(np_halve(levels[-1], FILTER))
        return [lv.astype(np.uint8) for lv in levels]

    chains = [mip_chain(requant(b)) for b in blocks]
    pairs = list(zip(chains[0::2], chains[1::2]))
    ktx_bytes = sum(lv.nbytes for a, b in pairs for lv in a + b)

    def ktx_encode(pair):
        a, b = pair
        mips = [
            interleave_channels([x.ravel(), y.ravel()]).tobytes()
            for x, y in zip(a, b)
        ]
        return encode_ktx(KtxHeader.for_array(BLOCK, 1, 2, N_MIPS), mips)

    rates = {
        "slice_decode": _rate_mibps(decode_tiff, slices, slice_bytes),
        "tiff_decode": _rate_mibps(decode_tiff, payloads, nbytes),
        "halve": _rate_mibps(lambda b: np_halve(b, FILTER), blocks, nbytes),
        "tiff_encode": _rate_mibps(
            lambda b: encode_tiff(b, compression="zlib"), blocks, nbytes
        ),
        "requant": _rate_mibps(requant, blocks, nbytes),
        "ktx_encode": _rate_mibps(ktx_encode, pairs, ktx_bytes),
    }
    for name, r in rates.items():
        run.put(f"kernel.{name}_mbps", r, "MiB/s", "single core")
    # work model, in MiB of uint16 voxels: the build decodes every slice,
    # halves levels 0..n-2 and zlib-encodes every level; the KTX pass
    # decodes and requantizes every block, halves each block's mip chain
    # and encodes the uint8 chains
    lv = [w.raw_bytes / 2**20 / 8**k for k in range(NLEVELS)]
    chain = sum(8.0**-k for k in range(N_MIPS - 1))
    build_core = (
        lv[0] / rates["slice_decode"]
        + sum(lv[:-1]) / rates["halve"]
        + sum(lv) / rates["tiff_encode"]
    )
    ktx_core = (
        sum(lv) / rates["tiff_decode"]
        + sum(lv) / rates["requant"]
        + sum(lv) * chain / rates["halve"]
        + sum(lv) / 2 * sum(8.0**-k for k in range(N_MIPS)) / rates["ktx_encode"]
    )
    for name, core, wall in (("octree", build_core, build_s), ("ktx", ktx_core, ktx_s)):
        floor = core / run.cpus
        run.put(
            f"{name}.kernel_floor_s", floor, "s",
            f"{core:.3f} kernel core-s / {run.cpus}",
        )
        run.put(
            f"{name}.overhead_share", 1.0 - floor / wall, "share", "1 - floor / wall"
        )


def _store_probes(run: Run, w: Octree, store: str) -> None:
    """tiff_volume scan throughput and manifest read time."""
    from pyarrow import fs as pafs

    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.datasource import register_volume_sources

    spark = w.spark
    register_volume_sources(spark)
    rows = 0
    t0 = time.perf_counter()
    for ch in range(CHANNELS):
        rows += (
            spark.read.format("tiff_volume")
            .option("suffix", ".tif")
            .option("channel", str(ch))
            .load(w.slices)
            .count()
        )
    dt = time.perf_counter() - t0
    voxels = CHANNELS * DIMS[0] * DIMS[1] * DIMS[2]
    run.attempt(
        rows == voxels, f"tiff_volume scan returned {rows} rows, expected {voxels}"
    )
    run.put(
        "tiff_volume.scan_mbps", w.raw_bytes / 2**20 / dt, "MiB/s",
        "full scan, both channels",
    )
    filesystem = pafs.LocalFileSystem()
    n_blocks = sum(len(b) for b in w.exp.blocks)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        files = manifest.committed_files(filesystem, store)
        times.append(time.perf_counter() - t0)
    run.attempt(
        len(files) == n_blocks,
        f"manifest lists {len(files)} files, expected {n_blocks}",
    )
    run.put(
        "manifest.read_s", median(times), "s",
        "committed_files on the committed store, median of 5",
    )


def _trace_points(run: Run) -> Tracer:
    """Spans around the pipeline calls, their Spark actions and the
    volume, manifest and KTX entry points they go through."""
    from hortacloud_importer_spark.pipelines.ktx import ktx_convert_blocks_fused
    from hortacloud_importer_spark.sources import manifest
    from hortacloud_importer_spark.sources.datasource import register_volume_sources
    from hortacloud_importer_spark.volume.downsample import halve_blocks

    tracer = Tracer(run.run_id)
    pkg = "hortacloud_importer_spark"
    layers.patch_spark_actions(tracer)
    for name in ("committed_files_df", "summary_files", "read_summary"):
        tracer.patch_attr(
            manifest, name, f"sources.manifest.{name}", "sources.manifest"
        )
    tracer.patch_function(
        register_volume_sources, "sources.register_volume_sources", "sources", pkg
    )
    tracer.patch_function(halve_blocks, "volume.halve_blocks", "volume", pkg)
    tracer.patch_function(
        ktx_convert_blocks_fused,
        "pipelines.ktx_convert_blocks_fused",
        "pipelines",
        pkg,
    )
    return tracer


def _traced(
    run: Run, w: Octree, tracer: Tracer, times: dict, store: str
) -> dict[str, float]:
    """Layer self times of the traced first pass, its tracing overhead,
    then the kernel and store probes."""
    out = layers.trace_lines(run, tracer, times["pass_s"])
    _kernel_probe(run, w, store, times["build_s"], times["ktx_s"])
    _store_probes(run, w, store)
    fresh = {r["level"]: r["n_blocks_written"] for r in w.summaries["build_s"]}
    resumed = {r["level"]: r["n_blocks_written"] for r in w.summaries["resume_build_s"]}
    for lv in sorted(fresh):
        run.put(f"octree.blocks_written.l{lv}", fresh[lv], "count", "fresh build")
        run.put(
            f"octree.blocks_skipped.l{lv}", fresh[lv] - resumed[lv], "count",
            "resumed build",
        )
    total = sum(fresh.values())
    run.put(
        "octree.skip_ratio", (total - sum(resumed.values())) / total, "share",
        "blocks skipped / blocks, resumed build",
    )
    run.put("ktx.files_written", w.summaries["ktx_s"][0]["n_files"], "count")
    run.put("octree.bytes_written", _dir_bytes(w.outputs[0]), "bytes")
    run.put("ktx.bytes_written", _dir_bytes(w.outputs[1]), "bytes")
    run.tracer = tracer
    return out
