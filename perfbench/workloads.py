"""The benchmark's workloads: untimed set-up of inputs, timed passes,
untimed correctness gates and, for ``--trace 1``, the per-layer run.

Everything here calls the program only through its public modules
(``session``, ``plans.pipeline``, ``checkpoint``, ``jobs/run_curation.py``
and the operators).  Per-layer spans come from wrappers the traced run
installs around those calls; no program file is changed.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import inputs
import tracing
from checks import check_curation, check_flagship, verdict_digest

N_BUCKETS = 8
CURATION_SPLIT = '{"train":0.8,"val":0.1,"test":0.1}'
CURATION_SHARDS = 16
CURATION_STAGES = ("exact_dedup", "line_dedup", "split", "profile", "shuffled")
# stages a crash after the split leaves to redo on resume, and how many
# crash/resume cycles a run times
CURATION_REDO = ("profile", "shuffled")
CURATION_RESUMES = 3


@dataclass
class Ctx:
    root: str  # checkout root
    run_dir: str  # working directory of this run, removed at exit
    cache: str  # input cache, kept across runs
    seed: int
    seconds: float
    cores: int
    spark: object = None
    n_tmp: int = 0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    session_s: float = 0.0  # get_spark, JVM launch included
    setup_s: float = 0.0  # session_s + the first cold pass
    # every timed interval: (what, wall s, steal share)
    timings: list[tuple[str, float, float]] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fresh_tmp(self) -> str:
        self.n_tmp += 1
        d = self.path(f"tmp{self.n_tmp}")
        os.makedirs(d)
        return d

    @contextlib.contextmanager
    def timed(self, what: str):
        """Time a block with a ``tracing.Stopwatch`` and log it."""
        with tracing.Stopwatch() as sw:
            yield sw
        self.timings.append((what, sw.wall, sw.steal))

    def gate(self, fails: list[str]) -> None:
        self.attempted += 1
        self.failures.extend(fails)


def _median(xs) -> float:
    return float(statistics.median(xs))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ set-up


def launch(ctx: Ctx) -> None:
    """Start the JVM and the session.

    The environment (``TMPDIR``, local dirs, event log) was pinned before,
    so the workers' model cache on disk is cold for the first pass.
    """
    from language_identification_spark.session import get_spark

    with ctx.timed("session") as sw:
        ctx.spark = get_spark("perfbench", cores=ctx.cores)
    ctx.session_s = sw.s
    jvm = ctx.spark.sparkContext._jvm
    ctx.info["java"] = str(jvm.java.lang.System.getProperty("java.version"))
    ctx.info["spark"] = ctx.spark.version


def _timed_passes(ctx: Ctx, one_pass) -> list[float]:
    """Run ``one_pass(k)`` until ``ctx.seconds`` have passed (at least
    once); return the time of each pass, stolen CPU discounted."""
    times: list[float] = []
    start = time.perf_counter()
    while not times or time.perf_counter() - start < ctx.seconds:
        with ctx.timed("pass") as sw:
            one_pass(len(times))
        times.append(sw.s)
    return times


# ----------------------------------------------------------- qf_large_ckpt

_FLAGSHIP_COLS = [
    "commit", "keep", "drop_reason", "n_redactions", "content_sha256", "scrubbed_sha256",
]


def _collect_flagship(df):
    return df.select(*_FLAGSHIP_COLS).toPandas()


def _checkpointed(ctx: Ctx, src, root: str, **kw):
    from language_identification_spark.checkpoint import run_checkpointed
    from language_identification_spark.plans.pipeline import quality_filter

    return run_checkpointed(ctx.spark, src, root, quality_filter, n_buckets=N_BUCKETS, **kw)


def _crash(ctx: Ctx, src, root: str) -> None:
    """The checkpointed run, crashed by an injected failure after half the
    buckets."""
    try:
        _checkpointed(ctx, src, root, fail_after=N_BUCKETS // 2)
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        ctx.gate(["the injected crash did not happen"])


def qf_large_ckpt(ctx: Ctx) -> dict[str, float]:
    import pandas as pd

    from language_identification_spark.sources.tableio import ParquetTableIO

    inp = inputs.large_input(ctx.cache, ctx.seed)
    meta = inputs.read_meta(inp)
    ctx.info["input"] = meta
    root = ctx.path("ckpt_resumed")
    # set-up: launch, then the job's first (cold) run up to its crash after
    # half the buckets, which spawns the Python workers and builds the
    # models; it is also the warm-up of the timed runs
    with ctx.timed("setup") as sw:
        launch(ctx)
        src = ctx.spark.read.parquet(os.path.join(inp, "input"))
        _crash(ctx, src, root)
    ctx.setup_s = sw.s
    with ctx.timed("resume") as sw:
        resumed = _checkpointed(ctx, src, root)
    resume_s = sw.s
    # buckets computed twice: result snapshots beyond one per bucket
    snapshots = ParquetTableIO(os.path.join(root, "results")).snapshots()
    ctx.info["buckets_redone"] = len(snapshots) - N_BUCKETS
    resumed = _collect_flagship(resumed)

    last = {}

    def one_pass(k: int) -> None:
        last["out"] = _checkpointed(ctx, src, ctx.path(f"ckpt_full{k}"))

    times = _timed_passes(ctx, one_pass)
    full = _collect_flagship(last["out"])
    expect = pd.read_parquet(os.path.join(inp, "expect.parquet"))
    fails, keep_f1 = check_flagship(full, expect, meta["rows"])
    ctx.gate(fails)
    ctx.gate(
        []
        if verdict_digest(resumed) == verdict_digest(full)
        else ["resumed run's verdicts differ from the uninterrupted run's"]
    )
    return {
        "files_per_s": meta["rows"] / _median(times),
        "resume_s": resume_s,
        "keep_f1": keep_f1,
        "setup_s": ctx.setup_s,
    }


# ---------------------------------------------------------- curation_dedup


def run_curation_job(ctx: Ctx, source: str, out: str) -> None:
    """``jobs/run_curation.py`` with exact dedup, line dedup, split and
    shuffle, in this process's Spark session."""
    jobs = os.path.join(ctx.root, "jobs")
    if jobs not in sys.path:
        sys.path.insert(0, jobs)
    import run_curation

    argv = sys.argv
    sys.argv = [
        "run_curation.py",
        "--source", source,
        "--out", out,
        "--line-dedup",
        "--split", CURATION_SPLIT,
        "--shuffle-seed", "perfbench",
        "--shuffle-shards", str(CURATION_SHARDS),
    ]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            run_curation.main()
    finally:
        sys.argv = argv


def _curation_outputs(ctx: Ctx, out: str) -> dict:
    read = ctx.spark.read.parquet
    return {
        "exact_dedup": read(os.path.join(out, "01_exact_dedup")).select("doc_id", "text").toPandas(),
        "line_dedup": read(os.path.join(out, "02_line_dedup")).select("doc_id", "text").toPandas(),
        "split": read(os.path.join(out, "03_split")).select("doc_id", "split").toPandas(),
        "shuffled": read(os.path.join(out, "shuffled"))
        .select("doc_id", "shuffle_key", "shard")
        .toPandas(),
    }


def _curation_digest(stages: dict) -> str:
    h = hashlib.sha256()
    for name in ("split", "shuffled"):
        df = stages[name].sort_values("doc_id").astype(str)
        for r in df.itertuples(index=False):
            h.update("\x1f".join(r).encode() + b"\n")
    return h.hexdigest()


def curation_dedup(ctx: Ctx) -> dict[str, float]:
    inp = inputs.curation_input(ctx.cache, ctx.seed)
    meta = inputs.read_meta(inp)
    ctx.info["input"] = {k: v for k, v in meta.items() if k not in ("planted_pairs", "exact_survivors")}
    source = os.path.join(inp, "input")

    # set-up: launch, then the job's first (cold) run, which is also the
    # warm-up of the timed runs
    warm = ctx.path("cur_warm")
    with ctx.timed("setup") as sw:
        launch(ctx)
        run_curation_job(ctx, source, warm)
    ctx.setup_s = sw.s
    last = {}

    def one_pass(k: int) -> None:
        last["out"] = ctx.path(f"cur_full{k}")
        run_curation_job(ctx, source, last["out"])

    times = _timed_passes(ctx, one_pass)
    out = last["out"]
    stages = _curation_outputs(ctx, out)
    fails, keep_f1 = check_curation(stages, meta["rows"], meta)
    ctx.gate(fails)

    # crash after the split (the later stages lose their _SUCCESS marker)
    # and resume, a few times: each resume redoes ~1 s of work
    resume_times = []
    for _ in range(CURATION_RESUMES):
        for d in CURATION_REDO:
            os.remove(os.path.join(out, d, "_SUCCESS"))
        with ctx.timed("resume") as sw:
            run_curation_job(ctx, source, out)
        resume_times.append(sw.s)
    resumed = _curation_outputs(ctx, out)
    first = _curation_outputs(ctx, warm)
    digests = {_curation_digest(x) for x in (first, stages, resumed)}
    ctx.gate([] if len(digests) == 1 else ["resumed or repeated curation output differs"])
    return {
        "files_per_s": meta["rows"] / _median(times),
        "resume_s": _median(resume_times),
        "keep_f1": keep_f1,
        "setup_s": ctx.setup_s,
    }


WORKLOADS = {"qf_large_ckpt": qf_large_ckpt, "curation_dedup": curation_dedup}


# ============================================================== traced run
#
# The JVM of a traced run launches with the Spark event log on.  The run
# first does the untraced workload above (its files_per_s is the base of
# trace.overhead), then repeats the end-to-end pass in the same session with
# spans and job groups around every layer call, followed by the ablation
# plans and local kernel calls.

PER_LAYER = {
    # scan (sources)
    "scan.s": "s", "tasks.count": "count", "tasks.skew": "ratio",
    # heuristics
    "heuristics.s": "s",
    # model
    "analyze.s": "s", "kernel.analyze_rows_per_s": "1/s",
    "kernel.langid_rows_per_s": "1/s", "kernel.ppl_rows_per_s": "1/s",
    "rows.to_model": "count", "bytes.to_model": "bytes",
    "py.bytes_sent": "bytes", "py.bytes_returned": "bytes",
    # scrub
    "trigger.s": "s", "scrub.s": "s", "kernel.scrub_rows_per_s": "1/s",
    "rows.scrub_triggered": "count", "rows.redacted": "count",
    "bytes.to_scrub": "bytes", "scrub.useful_ratio": "ratio",
    # final projection
    "sha256.s": "s",
    # setup
    "setup.session_s": "s", "setup.cold_pass_s": "s", "kernel.model_load_s": "s",
    # checkpointing
    "ckpt.stage_source_s": "s", "ckpt.bucket_p50_s": "s", "ckpt.bucket_max_s": "s",
    "ckpt.bucket_rows_skew": "ratio", "ckpt.commit_residual_s": "s",
    "ckpt.buckets_redone": "count", "ckpt.bytes_written": "bytes",
    # curation
    **{f"cur.{s}.s": "s" for s in CURATION_STAGES},
    **{f"cur.{s}.rows_out": "count" for s in CURATION_STAGES if s != "profile"},
    "jobs.count": "count",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_ratio": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    # whole run
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "residual.s": "s", "trace.overhead": "ratio",
}


@contextlib.contextmanager
def _patched(obj, name: str, wrapper_factory):
    orig = getattr(obj, name)
    setattr(obj, name, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def _layer(ctx: Ctx, tracer: tracing.Tracer, name_of, captured: dict | None = None):
    """Wrapper factory: each call runs inside a span and a Spark job group
    both named ``name_of(*args)``; ``captured`` keeps the last result."""

    def factory(fn):
        def wrapped(*args, **kw):
            name = name_of(*args, **kw)
            with _job_group(ctx, name), tracer.span(name):
                res = fn(*args, **kw)
            if captured is not None:
                captured[name] = res
            return res

        return wrapped

    return factory


@contextlib.contextmanager
def _job_group(ctx: Ctx, name: str):
    """Tag the Spark jobs submitted inside with job group ``name``."""
    sc = ctx.spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id") or "other"
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setJobGroup(prev, prev)


def _finish_event_log(ctx: Ctx, tracer: tracing.Tracer) -> dict:
    ctx.spark.stop()
    ctx.spark = None
    ctx.info["spans"] = [s.__dict__ for s in tracer.spans]
    return tracing.parse_event_log(tracing.event_log_files(ctx.path("events")))


def model_load_s(ctx: Ctx) -> float:
    """``models.registry.get_models`` from a cold disk cache, in a fresh
    Python process."""
    code = (
        "import time\n"
        "from language_identification_spark.models import registry\n"
        "t = time.perf_counter(); registry.get_models()\n"
        "print(time.perf_counter() - t)\n"
    )
    env = dict(os.environ, TMPDIR=ctx.fresh_tmp())
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ctx.root,
        capture_output=True, text=True, check=True, timeout=120,
    )
    return float(out.stdout.strip().splitlines()[-1])


def _exec_metrics(g: tracing.GroupStats) -> dict[str, float]:
    return {
        "exec.run_s": g.run_s, "exec.cpu_s": g.cpu_s, "exec.gc_s": g.gc_s,
        "tasks.skew": g.skew(), "jobs.count": g.jobs,
        "shuffle.write_bytes": g.shuffle_write_bytes,
        "shuffle.read_bytes": g.shuffle_read_bytes, "spill.bytes": g.spill_bytes,
        "py.bytes_sent": g.py_bytes_sent, "py.bytes_returned": g.py_bytes_returned,
    }


def _rate(n: int, fn) -> float:
    t0 = time.perf_counter()
    fn()
    return n / (time.perf_counter() - t0)


def _flagship_kernels(model_rows, scrub_rows) -> dict[str, float]:
    """The Arrow-UDF bodies called directly on local pandas data."""
    import numpy as np
    import pandas as pd

    from language_identification_spark.models.registry import get_models
    from language_identification_spark.plans.pipeline import _analyze_batch
    from language_identification_spark.scrub.scrubber import scrub_series

    lid, lm = get_models()
    active = pd.Series(np.ones(len(model_rows), dtype=bool))
    texts = [t.lower().encode("utf-8") for t in model_rows]
    _analyze_batch(model_rows[:64], active[:64])  # first-touch warm-up
    out = {"kernel.analyze_rows_per_s": _rate(len(model_rows), lambda: _analyze_batch(model_rows, active))}
    res = {}
    out["kernel.langid_rows_per_s"] = _rate(
        len(texts), lambda: res.setdefault("lid", lid.predict_batch(texts))
    )
    out["kernel.ppl_rows_per_s"] = _rate(
        len(texts), lambda: lm.score_batch(texts, res["lid"][0])
    )
    keep = pd.Series(np.ones(len(scrub_rows), dtype=bool))
    out["kernel.scrub_rows_per_s"] = (
        _rate(len(scrub_rows), lambda: scrub_series(scrub_rows, keep, pretriggered=True))
        if len(scrub_rows)
        else 0.0
    )
    return out


def qf_large_ckpt_traced(ctx: Ctx) -> dict[str, float]:
    from pyspark.sql import functions as F

    from language_identification_spark import checkpoint
    from language_identification_spark.checkpoint import read_metrics
    from language_identification_spark.config import DEFAULT_CONFIG
    from language_identification_spark.functions.heuristics import (
        cheap_drop_reason,
        with_heuristics,
    )
    from language_identification_spark.plans.pipeline import quality_filter
    from language_identification_spark.scrub.patterns import TRIGGER_REGEX
    from language_identification_spark.sources.tableio import ParquetTableIO

    untraced = qf_large_ckpt(ctx)
    redone = ctx.info["buckets_redone"]
    inp = inputs.large_input(ctx.cache, ctx.seed)
    rows = inputs.read_meta(inp)["rows"]
    tracer = tracing.Tracer(run_id=os.path.basename(ctx.run_dir))
    spark = ctx.spark
    src = spark.read.parquet(os.path.join(inp, "input"))

    def append_name(table, *a, **kw):
        return "ckpt.append." + os.path.basename(table.table_path.rstrip("/"))

    with _patched(checkpoint, "stage_source", _layer(ctx, tracer, lambda *a, **k: "ckpt.stage_source")), \
            _patched(ParquetTableIO, "append", _layer(ctx, tracer, append_name)), \
            _job_group(ctx, "e2e"), ctx.timed("traced pass") as traced, tracer.span("ckpt.run"):
        out = _checkpointed(ctx, src, ctx.path("traced_full"))
    e2e_s = tracer.total("ckpt.run")
    stage_s = tracer.total("ckpt.stage_source")
    results_s = tracer.total("ckpt.append.results")

    def timed(group: str, df) -> float:
        with _job_group(ctx, group), tracer.span(group):
            _noop(df)
        return tracer.total(group)

    heur = with_heuristics(src).withColumn("cheap_reason", cheap_drop_reason(DEFAULT_CONFIG))
    p = {
        "scan": timed("scan", src.select("repo", "path", "commit", "lang", "content")),
        "heuristics": timed("heuristics", heur),
        "noscrub": timed("noscrub", quality_filter(src, scrub_enabled=False)),
        "trigger": timed("trigger", src.filter(F.col("content").rlike(TRIGGER_REGEX))),
        "sha256": timed("sha256", src.select(F.sha2(F.encode("content", "UTF-8"), 256))),
        "full": timed("full", quality_filter(src)),
    }

    with _job_group(ctx, "counters"):
        j = heur.join(out.select("commit", "keep", "n_redactions"), "commit")
        to_model = F.col("cheap_reason").isNull()
        trig = F.col("keep") & F.col("content").rlike(TRIGGER_REGEX)
        c = j.agg(
            F.sum(to_model.cast("long")).alias("rows_to_model"),
            F.sum(F.when(to_model, F.octet_length(F.substring("content", 1, 4096)))).alias("bytes_to_model"),
            F.sum(trig.cast("long")).alias("rows_trig"),
            F.sum(F.when(trig, F.octet_length("content"))).alias("bytes_trig"),
            F.sum((F.col("keep") & (F.col("n_redactions") > 0)).cast("long")).alias("rows_red"),
        ).first()
        model_rows = j.filter(to_model).select(F.substring("content", 1, 4096).alias("t")).limit(1500).toPandas()["t"]
        scrub_rows = j.filter(trig).select("content").limit(400).toPandas()["content"]
        m = read_metrics(spark, ctx.path("traced_full")).toPandas()
    bytes_written = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(ctx.path("traced_full"))
        for f in fs
    )
    groups = _finish_event_log(ctx, tracer)

    # timed like the untraced passes, stolen CPU discounted
    fps_traced = rows / traced.s
    commit_residual = e2e_s - stage_s - results_s
    flagship = p["full"]  # = scan + heuristics + analyze + scrub, run alone
    wall_b = m["wall_ms"] / 1000
    rows_b = m["rows_in"]
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update(_exec_metrics(tracing.merge(groups, [g for g in groups if g == "e2e" or g.startswith("ckpt.")])))
    metrics.update(
        {
            "scan.s": p["scan"],
            "tasks.count": groups.get("scan", tracing.GroupStats()).tasks_of_largest_stage(),
            "heuristics.s": p["heuristics"] - p["scan"],
            "analyze.s": p["noscrub"] - p["heuristics"],
            "trigger.s": p["trigger"] - p["scan"],
            "scrub.s": p["full"] - p["noscrub"],
            "sha256.s": p["sha256"] - p["scan"],
            "rows.to_model": int(c["rows_to_model"] or 0),
            "bytes.to_model": int(c["bytes_to_model"] or 0),
            "rows.scrub_triggered": int(c["rows_trig"] or 0),
            "bytes.to_scrub": int(c["bytes_trig"] or 0),
            "rows.redacted": int(c["rows_red"] or 0),
            "scrub.useful_ratio": (c["rows_red"] or 0) / max(c["rows_trig"] or 0, 1),
            "ckpt.stage_source_s": stage_s,
            "ckpt.bucket_p50_s": float(wall_b.median()),
            "ckpt.bucket_max_s": float(wall_b.max()),
            "ckpt.bucket_rows_skew": float(rows_b.max() / rows_b.median()),
            "ckpt.commit_residual_s": commit_residual,
            "ckpt.buckets_redone": redone,
            "ckpt.bytes_written": bytes_written,
            "residual.s": e2e_s - (flagship + stage_s + commit_residual),
            "trace.overhead": fps_traced / untraced["files_per_s"],
            "setup.session_s": ctx.session_s,
            "setup.cold_pass_s": ctx.setup_s - ctx.session_s,
            "kernel.model_load_s": model_load_s(ctx),
        }
    )
    metrics.update(_flagship_kernels(model_rows, scrub_rows))
    ctx.info["layer_groups"] = {k: _exec_metrics(v) for k, v in groups.items()}
    return metrics


def curation_dedup_traced(ctx: Ctx) -> dict[str, float]:
    from pyspark.sql.readwriter import DataFrameWriter

    from language_identification_spark.operators import dedup

    untraced = curation_dedup(ctx)
    inp = inputs.curation_input(ctx.cache, ctx.seed)
    rows = inputs.read_meta(inp)["rows"]
    source = os.path.join(inp, "input")
    tracer = tracing.Tracer(run_id=os.path.basename(ctx.run_dir))
    out = ctx.path("traced_cur")
    captured = {}

    def write_name(writer, path, *a, **kw):
        # each stage hands off through one parquet write; the split stage
        # also stages its minhash features (inside cur.split.pairs)
        return "cur.write." + os.path.basename(path.rstrip("/")).lstrip("_0123456789")

    with _patched(DataFrameWriter, "parquet", _layer(ctx, tracer, write_name)), \
            _patched(dedup, "jaccard_pairs", _layer(ctx, tracer, lambda *a, **k: "cur.split.pairs", captured)), \
            _patched(dedup, "connected_components_star", _layer(ctx, tracer, lambda *a, **k: "cur.split.components")), \
            _job_group(ctx, "cur.other"), ctx.timed("traced pass") as traced, tracer.span("cur.run"):
        run_curation_job(ctx, source, out)
    e2e_s = tracer.total("cur.run")
    stage_s = {s: tracer.total(f"cur.write.{s}") for s in CURATION_STAGES}
    stage_s["split"] += tracer.total("cur.split.pairs") + tracer.total("cur.split.components")

    spark = ctx.spark
    with _job_group(ctx, "scan"), tracer.span("scan"):
        _noop(spark.read.parquet(source))
    with _job_group(ctx, "counters"):
        rows_out = {
            s: spark.read.parquet(os.path.join(out, d)).count()
            for s, d in (
                ("exact_dedup", "01_exact_dedup"), ("line_dedup", "02_line_dedup"),
                ("split", "03_split"), ("shuffled", "shuffled"),
            )
        }
        # the band self-join jaccard_pairs verifies, rebuilt from its
        # staged features (no public entry point returns it)
        feat = spark.read.parquet(os.path.join(out, "_split_features"))
        candidates = dedup._pairs_from_bands(
            dedup._band_table(feat.select("doc_id", "sig"), "doc_id", dedup.MAX_BUCKET), "doc_id"
        ).count()
        verified = captured["cur.split.pairs"].count()
    groups = _finish_event_log(ctx, tracer)
    cur_groups = [g for g in groups if g.startswith("cur.")]
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update(_exec_metrics(tracing.merge(groups, cur_groups)))
    metrics.update({f"cur.{s}.s": v for s, v in stage_s.items()})
    metrics.update({f"cur.{s}.rows_out": v for s, v in rows_out.items()})
    metrics.update(
        {
            "scan.s": tracer.total("scan"),
            "tasks.count": groups.get("scan", tracing.GroupStats()).tasks_of_largest_stage(),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.verify_ratio": verified / max(candidates, 1),
            "residual.s": tracer.self_time("cur.run"),
            "trace.overhead": (rows / traced.s) / untraced["files_per_s"],
            "setup.session_s": ctx.session_s,
            "setup.cold_pass_s": ctx.setup_s - ctx.session_s,
            "kernel.model_load_s": model_load_s(ctx),
        }
    )
    ctx.info["layer_groups"] = {k: _exec_metrics(v) for k, v in groups.items()}
    return metrics


TRACED = {"qf_large_ckpt": qf_large_ckpt_traced, "curation_dedup": curation_dedup_traced}


def cleanup(ctx: Ctx) -> None:
    """Stop Spark, the JVM and every Python worker; remove the run dir."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes; the Python workers when it does
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
    tracing.wait_for_children(timeout=60)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
