"""Per-layer metrics of the traced run.

A layer is a package module: ``session``, ``sources``, ``windows``,
``kernels``, ``asof``, ``skew``, ``plans``, ``em``, ``tv``. Point-in-time
pipelines get one span per layer call (``workloads.pit_stage_fns``). The
i-vector pipeline runs its five stages inside one public call, so its
stages are told apart by their commit times: each stage's manifest records
``written_at``, and the jobs submitted between two commits belong to the
later stage.

Every metric is emitted on every workload; a layer a workload does not run
reports 0.
"""

from __future__ import annotations

import math
import os
import statistics

from pyspark.sql import functions as F

from spans import StatusStore, in_window, job_wall, totals

UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.scaling_eff": "ratio",
    "sources.input_bytes": "bytes",
    "sources.input_bytes_per_turn": "bytes/turn",
    "sources.scan_s": "s",
    "windows.wall_s": "s",
    "windows.task_s": "s",
    "windows.slot_util": "ratio",
    "windows.exchanges": "count",
    "windows.spill_bytes": "bytes",
    "kernels.wall_s": "s",
    "kernels.task_s": "s",
    "kernels.slot_util": "ratio",
    "kernels.shuffle_write_bytes": "bytes",
    "kernels.task_max_over_median": "ratio",
    "kernels.gc_s": "s",
    "asof.wall_s": "s",
    "asof.task_s": "s",
    "asof.shuffle_read_bytes": "bytes",
    "asof.spill_bytes": "bytes",
    "asof.anchors": "count",
    "asof.matched_ratio": "ratio",
    "asof.salted": "count",
    "skew.probe_s": "s",
    "skew.probe_jobs": "count",
    "skew.heavy_keys": "count",
    "skew.wall_s": "s",
    "skew.task_max_over_median": "ratio",
    "skew.shuffle_write_bytes": "bytes",
    "plans.write_s": "s",
    "plans.count_scan_s": "s",
    "plans.bytes_written": "bytes",
    "plans.stages_executed": "count",
    "plans.stages_resumed": "count",
    "plans.resume_read_s": "s",
    "em.train_s": "s",
    "em.iter_s": "s",
    "em.jobs": "count",
    "em.stats_s": "s",
    "em.slot_util": "ratio",
    "tv.train_s": "s",
    "tv.jobs": "count",
    "tv.extract_s": "s",
    "tv.slot_util": "ratio",
    "trace.overhead_s": "s",
    "leakage_rows": "count",
    "failed_ops": "ratio",
}


# Metrics where a higher value is the better one; every other is lower.
HIGHER_IS_BETTER = {
    "session.scaling_eff", "windows.slot_util", "kernels.slot_util", "em.slot_util", "tv.slot_util",
    "asof.anchors", "asof.matched_ratio", "plans.stages_resumed",
}

# Which end-to-end metric each layer should move, and on which workload.
# Where a layer's workload is absent, the metric should stay flat.
LAYER_TARGETS = {
    "session": ("setup_s", ["pit_uniform", "ivector_train"]),
    "sources": ("job_s", ["pit_uniform"]),
    "windows": ("job_s, turns_per_s", ["pit_uniform"]),
    "kernels": ("job_s", ["pit_uniform", "ivector_train (features stage)"]),
    "asof": ("job_s, resume_s", ["pit_uniform"]),
    "skew": ("job_s (probe only)", ["pit_uniform"]),
    "plans": ("job_s, resume_s", ["pit_uniform", "ivector_train"]),
    "em": ("job_s", ["ivector_train"]),
    "tv": ("job_s, resume_s", ["ivector_train"]),
}


def _is_count_scan(job: dict) -> bool:
    """The per-file row-count re-scan after each stage write
    (``plans.pipeline._partition_counts``)."""
    return job["name"].startswith("collect at") and "plans/pipeline.py" in job["name"]


def _writes(jobs: list[dict]) -> list[dict]:
    """Jobs that wrote stage output (parquet bytes out)."""
    return [j for j in jobs if sum(st["output_bytes"] for st in j["stages"]) > 0]


def _du(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def rep_layers(bench, rep, hooks) -> dict:
    """Layer metrics of one traced repetition (status store read right
    after it, while its stages are still retained)."""
    StatusStore(bench.spark).fill(hooks.spans)
    cores = bench.cores
    spans = hooks.spans
    bench.span_log.extend(hooks.dump())

    def layer(*names, phase="job"):
        ss = [s for s in spans if s.phase == phase and s.name in names]
        return totals([j for s in ss for j in s.jobs], sum(s.wall_s for s in ss), cores)

    root = {s.phase: s for s in spans if s.parent is None}
    m = {}
    m["sources.scan_s"] = layer("sources")["wall_s"]

    w = layer("windows")
    m.update({"windows.wall_s": w["wall_s"], "windows.task_s": w["run_s"],
              "windows.slot_util": w["slot_util"], "windows.spill_bytes": w["spill_bytes"]})

    a = layer("asof")
    m.update({"asof.wall_s": a["wall_s"], "asof.task_s": a["run_s"],
              "asof.shuffle_read_bytes": a["shuffle_read_bytes"],
              "asof.spill_bytes": a["spill_bytes"]})

    probe = layer("skew.probe")
    sk = layer("skew.probe", "skew")
    m.update({"skew.probe_s": probe["wall_s"], "skew.probe_jobs": probe["jobs"],
              "skew.wall_s": sk["wall_s"], "skew.task_max_over_median": sk["task_max_over_median"],
              "skew.shuffle_write_bytes": sk["shuffle_write_bytes"]})

    own = root["job"].jobs  # jobs no layer span claimed
    stages = len(rep.executed)
    m["plans.stages_executed"] = stages
    m["plans.stages_resumed"] = stages - len(rep.resumed_executed[0])
    m["plans.count_scan_s"] = job_wall([j for j in own if _is_count_scan(j)])
    m["plans.bytes_written"] = _du(rep.root)
    resume = root["resume"]
    first = [j["t0"] for s in spans if s.phase == "resume" for j in s.jobs]
    m["plans.resume_read_s"] = (min(first) if first else resume.t1) - resume.t0

    if bench.args.workload == "ivector_train":
        m.update(_ivector(bench, rep, root["job"], layer("sources"), own, cores))
    else:
        k = layer("kernels")
        m.update({"kernels.wall_s": k["wall_s"], "kernels.task_s": k["run_s"],
                  "kernels.slot_util": k["slot_util"],
                  "kernels.shuffle_write_bytes": k["shuffle_write_bytes"],
                  "kernels.task_max_over_median": k["task_max_over_median"],
                  "kernels.gc_s": k["gc_s"]})
        m["plans.write_s"] = job_wall(_writes(own))
        m.update({f"{p}.{n}": 0.0 for p, n in (
            ("em", "train_s"), ("em", "iter_s"), ("em", "jobs"), ("em", "stats_s"),
            ("em", "slot_util"), ("tv", "train_s"), ("tv", "jobs"), ("tv", "extract_s"),
            ("tv", "slot_util"))})
    return m


def _ivector(bench, rep, job_span, src, own, cores) -> dict:
    """Split the single IVectorPipeline.run call into its five stages by
    manifest commit times."""
    from featureengineer_spark.plans.pipeline import read_manifest
    import workloads

    cfg = workloads.IVECTOR_CONFIG
    bounds = [job_span.t0 + src["wall_s"]]
    for stage in workloads.IV_STAGES[:-1]:
        bounds.append(read_manifest(rep.root, stage).written_at)
    bounds.append(job_span.t1)  # the latent commit ends the run
    st = {}
    for i, stage in enumerate(workloads.IV_STAGES):
        jobs = in_window(own, bounds[i], bounds[i + 1])
        st[stage] = totals(jobs, bounds[i + 1] - bounds[i], cores)

    def util(*names):
        run = sum(st[n]["run_s"] for n in names)
        wall = sum(st[n]["wall_s"] for n in names)
        return run / (wall * cores) if wall > 0 else 0.0

    f, ubm = st["features"], st["ubm"]
    em_iters = int(math.log2(cfg["n_components"])) * cfg["ubm_iters_per_stage"]
    return {
        "kernels.wall_s": f["wall_s"], "kernels.task_s": f["run_s"],
        "kernels.slot_util": f["slot_util"], "kernels.shuffle_write_bytes": f["shuffle_write_bytes"],
        "kernels.task_max_over_median": f["task_max_over_median"], "kernels.gc_s": f["gc_s"],
        "plans.write_s": job_wall(_writes(own)),  # stage compute is fused into these
        "em.train_s": ubm["wall_s"], "em.iter_s": ubm["wall_s"] / em_iters,
        "em.jobs": ubm["jobs"], "em.stats_s": st["stats"]["wall_s"],
        "em.slot_util": util("ubm", "stats"),
        "tv.train_s": st["tv"]["wall_s"], "tv.jobs": st["tv"]["jobs"],
        "tv.extract_s": st["latent"]["wall_s"], "tv.slot_util": util("tv", "latent"),
    }


def run_level(bench) -> dict:
    """Metrics measured once per run, outside the traced repetitions."""
    import workloads
    from featureengineer_spark.operators.skew import detect_heavy_keys

    spark, inputs, wl = bench.spark, bench.inputs, bench.args.workload
    heavy = workloads.SIZES[bench.args.scale]["heavy_threshold"]
    src = inputs.transcripts(spark)
    size = _du(inputs.path)
    m = {"skew.heavy_keys": detect_heavy_keys(src, threshold=heavy).count(),
         "sources.input_bytes": size, "sources.input_bytes_per_turn": size / inputs.n_turns}
    if wl == "ivector_train":
        m.update({"windows.exchanges": 0, "asof.anchors": 0, "asof.matched_ratio": 0,
                  "asof.salted": 0})
        return m
    fns = workloads.pit_stage_fns(spark, wl, inputs, workloads.PlainHooks(), bench.args.scale)
    m["windows.exchanges"] = _exchanges(fns["windows"](src))
    root = bench.last.root
    feats = spark.read.parquet(os.path.join(root, "features", "data"))
    m["asof.salted"] = int("__chunk" in _plan(fns["asof"](feats)))
    out = spark.read.parquet(os.path.join(root, "asof", "data"))
    row = out.agg(F.count("*").alias("n"), F.count("matched_ts").alias("hit")).first()
    m["asof.anchors"] = row["n"]
    m["asof.matched_ratio"] = row["hit"] / row["n"] if row["n"] else 0.0
    return m


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(df) -> int:
    """Shuffle exchanges in the physical plan (before adaptive re-planning)."""
    return sum(
        1 for line in _plan(df).splitlines()
        if line.lstrip(" +-:*").startswith("Exchange ")
    )


def per_layer(bench, peak_rss_mb: float) -> dict:
    out = dict(bench.traced[0][1]) if bench.traced else {}
    out.update(run_level(bench))
    out["session.start_s"] = bench.session_start_s
    out["session.peak_rss_mb"] = peak_rss_mb
    traced_job = statistics.median(r.job_s for r, _m in bench.traced) if bench.traced else 0.0
    plain_job = statistics.median(r.job_s for r in bench.plain) if bench.plain else 0.0
    out["trace.overhead_s"] = traced_job - plain_job
    out["leakage_rows"] = bench.leakage_rows
    out["failed_ops"] = bench.failed / max(bench.attempted, 1)
    return {k: {"value": float(out.get(k, 0.0)), "unit": u} for k, u in UNITS.items()}
