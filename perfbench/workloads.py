"""The three benchmark workloads: seeded inputs and the jobs run on them.

Every input is generated from the ``--seed`` by ``synth_transcripts_spark``
and written under the run's own scratch directory. Each job goes through
the package's public API only:

* ``pit_uniform`` — a ``FeaturePipeline`` over a bucketed ``conv_id``
  table: window stack → ``featurize_fast(clustered=True)`` →
  ``asof_join_auto`` to a 10% anchor sample (routes to the plain join).
* ``pit_skew`` — the same pipeline on plain parquet where two
  mega-conversations hold ~87% of the turns: ``rolling_counts_auto`` and
  ``asof_join_auto`` route to their salted paths, ``featurize_fast`` takes
  the exchange path.
* ``ivector_train`` — the 5-stage ``IVectorPipeline`` (features → UBM
  split-EM → stats → TV EM → latent) on a table shaped like
  ``pit_uniform``'s, stored as plain parquet.

Stage functions call ``hooks.call`` around eager public calls and
``hooks.force`` on lazy results. Untraced, both are pass-throughs; the
traced run (``spans.TracedHooks``) turns them into spans.

``BENCHMARK.json`` lists ``pit_uniform`` and ``ivector_train``;
``pit_skew`` runs the same way by hand (``--workload pit_skew``). A run
of it does not fit the per-run time budget of a three-workload benchmark.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from featureengineer_spark.data import synth_transcripts_spark
from featureengineer_spark.kernels import featurize_fast
from featureengineer_spark.operators import (
    asof_join_auto,
    with_backfill,
    with_inter_turn_latency,
    with_lags,
    with_rolling_counts,
    with_session_ids,
)
from featureengineer_spark.operators.skew import rolling_counts_auto
from featureengineer_spark.operators.windows import default_rolling_predicates
from featureengineer_spark.plans.ivector import IVectorConfig, IVectorPipeline
from featureengineer_spark.plans.pipeline import FeaturePipeline, read_manifest

# bench.py's layout has 64 buckets for tables of millions of turns; at this
# benchmark's 80k turns that leaves ~1.2k turns a bucket, and per-task
# overhead, not the program's work, sets the job time. 16 buckets keep
# ~5k turns a bucket and 4 tasks a core.
BUCKETS = 16
IDLE_TIMEOUT_S = 1800.0
ROLL_WINDOW = 10
ANCHOR_MOD = 10  # 1 in 10 turns becomes an as-of probe

# Sizes per workload: generator arguments plus ``turns``, the exact table
# size — the input is cut after its first ``turns`` turns in conversation
# order, so every seed gives the same amount of work. ``full`` is what the
# benchmark measures; ``toy`` is for the self-test. Skew thresholds scale
# with the mega-conversation length so the routing matches the full-size
# design (heavy keys exist only in pit_skew).
SIZES = {
    "full": {
        "pit_uniform": dict(n_convs=4_000, mega=3, mega_len=10_000, turns=80_000),
        "pit_skew": dict(n_convs=1_500, mega=2, mega_len=75_000, turns=170_000),
        "ivector_train": dict(n_convs=4_000, mega=3, mega_len=10_000, turns=80_000),
        "heavy_threshold": 50_000,
        "salt_chunk": 4_096,
    },
    "toy": {
        "pit_uniform": dict(n_convs=400, mega=2, mega_len=800, turns=8_000),
        "pit_skew": dict(n_convs=200, mega=2, mega_len=3_000, turns=8_000),
        "ivector_train": dict(n_convs=300, mega=1, mega_len=400, turns=5_000),
        "heavy_threshold": 2_000,
        "salt_chunk": 512,
    },
}

IVECTOR_CONFIG = dict(n_components=8, ubm_iters_per_stage=1, tv_rank=8, tv_iters=2)


class PlainHooks:
    """Untraced hooks: every call runs as a user would write it."""

    def root(self, phase):
        return contextlib.nullcontext()

    def call(self, layer, fn, *args, **kw):
        return fn(*args, **kw)

    def force(self, layer, df):
        return df


@dataclass
class Inputs:
    """One workload's generated inputs."""

    table: str  # catalog table name or parquet path of the transcripts
    path: str  # the transcripts' files
    bucketed: bool
    anchors_path: str | None
    n_turns: int
    n_anchors: int
    n_convs: int
    mega_ids: list[str] = field(default_factory=list)

    def transcripts(self, spark):
        return spark.table(self.table) if self.bucketed else spark.read.parquet(self.table)


def _anchors(t, seed: int):
    """Deterministic 10% probe sample: each chosen turn's ts plus a seeded
    0-60 s offset, so probes land both on and between turns."""
    h = F.xxhash64(F.lit(seed), F.col("conv_id"), F.col("turn_idx"))
    return t.filter(F.pmod(h, F.lit(ANCHOR_MOD)) == 0).select(
        "conv_id",
        (F.col("ts") + F.make_interval(secs=(F.pmod(h, F.lit(60_000)) / 1000.0))).alias(
            "anchor_ts"
        ),
    )


def _first_turns(t, turns: int):
    """The first ``turns`` turns of ``t`` in (conversation number,
    turn_idx) order — whole conversations plus a prefix of the last one.
    Returns the cut table and its conversation count."""
    num = F.substring("conv_id", 6, 12).cast("int")  # "conv_<n>"
    lengths = sorted(
        (r["n"], r["count"]) for r in t.groupBy(num.alias("n")).count().collect()
    )
    seen = 0
    for conv, count in lengths:
        if seen + count >= turns:
            cut = (num < conv) | ((num == conv) & (F.col("turn_idx") < turns - seen))
            return t.filter(cut), conv + 1
        seen += count
    return t, len(lengths)


def build_inputs(spark, workload: str, seed: int, out_dir: str, scale: str = "full") -> Inputs:
    """Generate and lay out one workload's inputs under ``out_dir``."""
    size = dict(SIZES[scale][workload])
    turns = size.pop("turns")
    os.makedirs(out_dir, exist_ok=True)
    t, n_convs = _first_turns(synth_transcripts_spark(spark, seed=seed, **size), turns)
    path = os.path.join(out_dir, "transcripts")
    # IVectorPipeline featurizes on the exchange path, so its input is plain
    # parquet like pit_skew's; only pit_uniform reads the bucketed layout
    bucketed = workload == "pit_uniform"
    if bucketed:
        # bench.py's production layout, CLUSTERED BY (conv_id) SORTED BY
        # (conv_id, ts, turn_idx), so the window stack needs no exchange
        table = "perfbench_" + os.path.basename(os.path.normpath(out_dir)).replace("-", "_")
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            t.repartition(BUCKETS, "conv_id")
            .write.mode("overwrite")
            .bucketBy(BUCKETS, "conv_id")
            .sortBy("conv_id", "ts", "turn_idx")
            .option("path", path)
            .saveAsTable(table)
        )
    else:
        table = path
        t.write.mode("overwrite").parquet(path)
    inputs = Inputs(table, path, bucketed, None, 0, 0, n_convs)
    src = inputs.transcripts(spark)
    inputs.n_turns = src.count()
    inputs.mega_ids = [f"conv_{i}" for i in range(size["mega"])]
    if workload != "ivector_train":
        inputs.anchors_path = os.path.join(out_dir, "anchors")
        _anchors(src, seed).write.mode("overwrite").parquet(inputs.anchors_path)
        inputs.n_anchors = spark.read.parquet(inputs.anchors_path).count()
    return inputs


def register_table(spark, inputs: Inputs) -> None:
    """Re-register a bucketed input in a new session's catalog (the
    in-memory catalog does not outlive its SparkContext)."""
    if not inputs.bucketed:
        return
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in spark.read.parquet(inputs.path).schema
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {inputs.table} ({ddl}) USING parquet "
        f"CLUSTERED BY (conv_id) SORTED BY (conv_id, ts, turn_idx) "
        f"INTO {BUCKETS} BUCKETS LOCATION '{inputs.path}'"
    )


# -- point-in-time feature pipelines ------------------------------------------

PIT_STAGES = ("windows", "features", "asof")


def pit_stage_fns(spark, workload: str, inputs: Inputs, hooks, scale="full") -> dict:
    """The three stage functions of the point-in-time pipeline."""
    heavy = SIZES[scale]["heavy_threshold"]
    chunk = SIZES[scale]["salt_chunk"]
    skewed = workload == "pit_skew"

    def windows(df):
        df = with_lags(df, ["role"], offsets=(1,))
        df = with_inter_turn_latency(df)
        df = with_session_ids(df, idle_timeout_s=IDLE_TIMEOUT_S)
        if skewed:
            df = hooks.force("windows", df)
            df = hooks.call(
                "skew.probe", rolling_counts_auto, df, default_rolling_predicates(),
                window=ROLL_WINDOW, heavy_threshold=heavy, chunk_size=chunk,
            )
            df = hooks.force("skew", df)
        else:
            df = with_rolling_counts(df, default_rolling_predicates(), window=ROLL_WINDOW)
        return hooks.force("windows", with_backfill(df, "tool"))

    def features(df):
        return hooks.force("kernels", featurize_fast(df, clustered=not skewed))

    def asof(df):
        anchors = spark.read.parquet(inputs.anchors_path)
        out = hooks.call(
            "skew.probe", asof_join_auto, df, anchors,
            heavy_threshold=heavy, value_cols=["turn_idx", "feature_vec"],
        )
        return hooks.force("asof", out)

    return {"windows": windows, "features": features, "asof": asof}


def pit_pipeline(spark, workload: str, inputs: Inputs, root: str, hooks=None, scale="full"):
    """The point-in-time training-set job as a checkpointed FeaturePipeline."""
    hooks = hooks or PlainHooks()
    pipe = FeaturePipeline(spark, root=root).source(
        lambda s: hooks.force("sources", inputs.transcripts(s)), fingerprint=inputs.table
    )
    for name, fn in pit_stage_fns(spark, workload, inputs, hooks, scale).items():
        pipe = pipe.stage(name, fn)
    return pipe


# -- i-vector training pipeline ----------------------------------------------

IV_STAGES = ("features", "ubm", "stats", "tv", "latent")


def ivector_pipeline(spark, root: str) -> IVectorPipeline:
    return IVectorPipeline(spark, root, IVectorConfig(**IVECTOR_CONFIG))


# -- one pipeline root -----------------------------------------------------------


def uncommit(root: str, stage: str) -> None:
    """Remove a stage's commit (manifest + success marker) so the next run
    must recompute it and only it."""
    for rel in ("manifest.json", os.path.join("data", "_SUCCESS")):
        p = os.path.join(root, stage, rel)
        if os.path.exists(p):
            os.remove(p)


class Rep:
    """One pipeline root: a fresh-root job, then any number of resumes,
    each of which removes the last stage's commit and runs again. Both
    return the commit-level errors they find (an empty list when fine)."""

    def __init__(self, spark, workload: str, inputs: Inputs, root: str, hooks=None,
                 scale: str = "full"):
        self.spark, self.workload, self.inputs = spark, workload, inputs
        self.root, self.scale = root, scale
        self.hooks = hooks or PlainHooks()
        self.stages = list(IV_STAGES if workload == "ivector_train" else PIT_STAGES)
        self.job_s = 0.0
        self.resume_s: list[float] = []
        self.executed: list[str] = []
        self.resumed_executed: list[list[str]] = []

    def _run(self) -> list[str]:
        if self.workload == "ivector_train":
            pipe = ivector_pipeline(self.spark, self.root)
            pipe.run(self.hooks.force("sources", self.inputs.transcripts(self.spark)))
        else:
            pipe = pit_pipeline(self.spark, self.workload, self.inputs, self.root,
                                self.hooks, self.scale)
            pipe.run()
        return list(pipe.executed)

    def job(self) -> list[str]:
        shutil.rmtree(self.root, ignore_errors=True)
        t0 = time.perf_counter()
        with self.hooks.root("job"):
            self.executed = self._run()
        self.job_s = time.perf_counter() - t0
        errs = [] if self.executed == self.stages else [
            f"fresh run executed {self.executed}, expected {self.stages}"]
        return errs + self._row_errors()

    def resume(self) -> list[str]:
        uncommit(self.root, self.stages[-1])
        t0 = time.perf_counter()
        with self.hooks.root("resume"):
            ran = self._run()
        self.resume_s.append(time.perf_counter() - t0)
        self.resumed_executed.append(ran)
        errs = [] if ran == self.stages[-1:] else [
            f"resume executed {ran}, expected {self.stages[-1:]}"]
        return errs + self._row_errors()

    def _row_errors(self) -> list[str]:
        """Manifest ``total_rows`` of every committed stage against the
        expected turn, conversation and anchor counts."""
        inp = self.inputs
        if self.workload == "ivector_train":
            want = {"features": inp.n_turns, "stats": inp.n_convs, "latent": inp.n_convs}
        else:
            want = {"windows": inp.n_turns, "features": inp.n_turns, "asof": inp.n_anchors}
        errs = []
        for stage, rows in want.items():
            m = read_manifest(self.root, stage)
            got = None if m is None else m.total_rows
            if got != rows:
                errs.append(f"{stage}: manifest total_rows {got}, expected {rows}")
        return errs
