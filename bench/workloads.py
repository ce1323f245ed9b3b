"""Workload definitions and the metrics computed from one run's record.

The metric names and units here are the ones BENCHMARK.json lists;
test_stats.py checks that the two agree.
"""
import glob
import json
import os

import stats

# "warm_passes": untimed passes at the end of setup. Without them each
# curate_batch pass ran faster than the one before (about 5, 4, 3 s on
# four cores) while the JIT caught up. index_churn has none: one costs
# as much as the timed pass.
# "min_passes": the passes every run counts, whatever the code's or the
# host's speed; five curate_batch passes give op_tail_s 60 samples (its
# p83). Passes that run on until --seconds have elapsed are checked
# but not counted.
WORKLOADS = {
    # MMTrail's scoring and filter passes: stateless registered queries
    # that leave no persisted table behind, bound by fixed cost per job
    # at sf0.1, so driver- and ops-layer changes show here.
    "curate_batch": {"warm_passes": 2, "min_passes": 5, "ops": [
        "q02_filter_project",
        "q08_histogram",
        "q13_frame_sampler",
        "q15_ocr_area",
        "q46_of_score",
        "q40_global_topk",
        "q42_imaging_quality",
        "q35_caption_parse",
        "q47_caption_cleanup",
        "q20_range_join",
        "q52_stratified_sample",
        "q207_countmin_cells",
    ]},
    # three persisted index families' write path (Churn.scala)
    "index_churn": {"warm_passes": 0, "min_passes": 1, "ops": None},
}

# name -> unit; every one is printed by every untraced run
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("heap_peak_mb", "MB"),
]

FAMILIES = ["vector", "semantic", "novelty"]
STEPS = ["build", "append", "purge", "vacuum", "serve"]

# name -> unit; every one is printed by every traced run (0 where the
# layer is not exercised by the workload)
PER_LAYER = [
    ("driver.jobs", "count"), ("driver.stages", "count"),
    ("driver.tasks", "count"), ("driver.gap_s", "s"),
    ("driver.sql_executions", "count"), ("driver.codegen_ms", "ms"),
    ("driver.codegen_classes", "count"),
    ("ops.construct_s", "s"), ("ops.materialize_s", "s"),
    ("ops.self_s", "s"),
    ("tables.input_rows", "count"), ("tables.input_bytes", "bytes"),
    ("tables.scan_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_ratio", "ratio"), ("exec.task_skew", "ratio"),
    ("exec.spill_bytes", "bytes"),
    ("shuffle.write_rows", "count"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_s", "s"),
    ("cache.blocks_put", "count"), ("cache.bytes_put", "bytes"),
    ("cache.bytes_peak", "bytes"),
    ("functions.dot_s", "s"), ("functions.sorted_intersect_s", "s"),
    ("functions.minhash_agg_s", "s"), ("functions.kmv_agg_s", "s"),
    ("media.decode_frame_s", "s"), ("media.detect_scenes_s", "s"),
] + [(f"io.{f}.{s}_s", "s") for f in FAMILIES for s in STEPS] + [
    ("io.jobs_per_call", "count"), ("io.output_bytes", "bytes"),
    ("io.output_files", "count"), ("io.dir_bytes", "bytes"),
    ("catalog.ddl_ops", "count"),
    ("streaming.batches", "count"), ("streaming.batch_ms", "ms"),
    ("streaming.planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "bytes"),
    ("jvm.gc_pause_s", "s"), ("jvm.gc_count", "count"),
    ("jvm.heap_used_peak_mb", "MB"), ("jvm.jit_ms", "ms"),
    ("host.cpu_probe_s", "s"), ("host.io_probe_s", "s"),
    ("host.steal_share", "ratio"),
    ("churn.ingest_p50_s", "s"), ("churn.ingest_tail_s", "s"),
    ("churn.maintain_s", "s"), ("churn.serve_p50_s", "s"),
    ("churn.stored_bytes_per_input_byte", "ratio"),
    ("churn.written_bytes_per_input_byte", "ratio"),
    ("run.error_rate", "ratio"), ("trace.overhead_s", "s"),
]


def _family(op):
    return op.split(".")[0] if "." in op else op


def _churn_e2e(rec):
    """index_churn's own end-to-end figures (0 for other workloads)."""
    ch = rec.get("churn")
    plan = rec.get("churn_plan")
    if not ch or not plan:
        return {}
    batches = [b["batch_ms"] / 1e3 for b in ch["ingest"]]
    serves = [(o["t1"] - o["t0"]) / 1e9 for o in rec["ops"]
              if o["kind"] == "serve" and o["ok"]]
    live = sum(p["live_bytes"] for p in plan.values())
    ingested = sum(p["ingested_bytes"] for p in plan.values())
    t, pct, beyond = stats.tail(batches)
    return {
        "ingest_p50_s": stats.median(batches),
        "ingest_tail_s": t, "ingest_tail_pct": pct,
        "ingest_tail_beyond": beyond, "ingest_batches": len(batches),
        "maintain_s": stats.median(ch["maintain_s"]),
        "serve_p50_s": stats.median(serves),
        "stored_bytes_per_input_byte":
            stats.ratio(stats.median(ch["stored_bytes"]), live),
        "written_bytes_per_input_byte":
            stats.ratio(stats.median(ch["written_bytes"]), ingested),
    }


def _untraced_pass_s(here, workload):
    """Median pass_s of the untraced runs recorded in this checkout."""
    xs = []
    for f in glob.glob(os.path.join(here, "records", f"{workload}_*_t0_*")):
        try:
            with open(f) as fh:
                xs.append(json.load(fh)["metrics"]["pass_s"])
        except (OSError, ValueError, KeyError):
            pass
    return stats.median(xs) if xs else None


def steal_share(rec):
    """Share of the machine's CPU time stolen by the hypervisor during
    the timed passes (0 where /proc/stat is not available)."""
    j0, j1 = rec.get("jvm_timed_start", {}), rec.get("jvm_timed_end", {})
    return stats.ratio(
        j1.get("cpu_steal_jiffies", 0) - j0.get("cpu_steal_jiffies", 0),
        j1.get("cpu_total_jiffies", 0) - j0.get("cpu_total_jiffies", 0))


def per_layer(rec, spans, e2e, churn, error_rate, here, workload):
    """The traced run's per-layer metrics, per timed pass."""
    passes = max(1, len(rec["passes"]))
    timed = {o["id"] for o in rec["ops"]}
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["name"] == "op" and s["id"] in timed]
    under = [s for s in spans if s["op"] in timed and s["name"] != "op"]
    jobs = [s for s in under if s["name"] == "spark.job"]
    stages = [s for s in under if s["name"] == "spark.stage"]

    def counter(name):
        return sum(c["value"] for c in rec.get("counters", [])
                   if c["name"] == name and c["op"] in timed)

    def stage_sum(key):
        return sum(s["attrs"].get(key, 0) for s in stages)

    def span_s(name):
        return sum((s["t1"] - s["t0"]) / 1e9 for s in under
                   if s["name"] == name)

    gap = 0.0
    self_s = 0.0
    wall = 0.0
    for r in roots:
        iv = (r["t0"], r["t1"])
        gap += stats.driver_gap(iv, [(j["t0"], j["t1"]) for j in jobs
                                     if j["op"] == r["id"]]) / 1e9
        kids = [(s["t0"], s["t1"]) for s in spans if s["parent"] == r["id"]]
        self_s += stats.self_time(iv, kids) / 1e9
        wall += (r["t1"] - r["t0"]) / 1e9
    j0, j1 = rec["jvm_timed_start"], rec["jvm_timed_end"]
    codegen_n = j1["codegen_count"] - j0["codegen_count"]
    skews = [s["attrs"]["task_skew"] for s in stages
             if s["attrs"].get("tasks", 0) >= 2 and "task_skew" in s["attrs"]]
    probes = rec.get("probes", {})
    ch = rec.get("churn") or {}
    ingest = ch.get("ingest", [])
    n_io = len(roots) if workload == "index_churn" else 0
    untraced = _untraced_pass_s(here, workload)
    m = {
        "driver.jobs": len(jobs) / passes,
        "driver.stages": counter("stages") / passes,
        "driver.tasks": counter("tasks") / passes,
        "driver.gap_s": gap / passes,
        "driver.sql_executions": counter("sql_executions") / passes,
        "driver.codegen_ms": codegen_n * j1["codegen_mean_ms"] / passes,
        "driver.codegen_classes": codegen_n / passes,
        "ops.construct_s": span_s("ops.construct") / passes,
        "ops.materialize_s": span_s("ops.materialize") / passes,
        "ops.self_s": self_s / passes,
        "tables.input_rows": stage_sum("input_rows") / passes,
        "tables.input_bytes": stage_sum("input_bytes") / passes,
        "tables.scan_s": probes.get("tables.scan_s", 0.0),
        "exec.run_s": stage_sum("run_ms") / 1e3 / passes,
        "exec.cpu_s": stage_sum("cpu_ns") / 1e9 / passes,
        "exec.gc_s": stage_sum("gc_ms") / 1e3 / passes,
        "exec.busy_ratio": stats.ratio(stage_sum("run_ms") / 1e3,
                                       rec["cores"] * wall),
        "exec.task_skew": stats.median(skews),
        "exec.spill_bytes": stage_sum("spill_bytes") / passes,
        "shuffle.write_rows": stage_sum("shuffle_write_rows") / passes,
        "shuffle.write_bytes": stage_sum("shuffle_write_bytes") / passes,
        "shuffle.read_bytes": stage_sum("shuffle_read_bytes") / passes,
        "shuffle.fetch_wait_s": stage_sum("fetch_wait_ms") / 1e3 / passes,
        "cache.blocks_put": counter("cache.blocks_put") / passes,
        "cache.bytes_put": counter("cache.bytes_put") / passes,
        "cache.bytes_peak": rec.get("cache_bytes_peak", 0),
        "io.jobs_per_call": stats.ratio(len(jobs), n_io),
        "io.output_bytes": stage_sum("output_bytes") / passes,
        "io.output_files": stats.median(ch.get("stored_files", [])),
        "io.dir_bytes": stats.median(ch.get("stored_bytes", [])),
        "catalog.ddl_ops": counter("catalog.ddl_ops") / passes,
        "streaming.batches": len(ingest) / passes,
        "streaming.batch_ms": stats.median([b["batch_ms"] for b in ingest]),
        "streaming.planning_ms":
            stats.median([b["planning_ms"] for b in ingest]),
        "streaming.add_batch_ms":
            stats.median([b["add_batch_ms"] for b in ingest]),
        "streaming.commit_ms":
            stats.median([b["commit_ms"] for b in ingest]),
        "streaming.state_rows":
            max([b["state_rows"] for b in ingest], default=0),
        "streaming.state_bytes":
            max([b["state_bytes"] for b in ingest], default=0),
        "jvm.gc_pause_s": (j1["gc_ms"] - j0["gc_ms"]) / 1e3 / passes,
        "jvm.gc_count": (j1["gc_count"] - j0["gc_count"]) / passes,
        "jvm.heap_used_peak_mb": rec["heap_peak_mb"],
        "jvm.jit_ms": (j1["jit_ms"] - j0["jit_ms"]) / passes,
        "churn.ingest_p50_s": churn.get("ingest_p50_s", 0.0),
        "churn.ingest_tail_s": churn.get("ingest_tail_s", 0.0),
        "churn.maintain_s": churn.get("maintain_s", 0.0),
        "churn.serve_p50_s": churn.get("serve_p50_s", 0.0),
        "churn.stored_bytes_per_input_byte":
            churn.get("stored_bytes_per_input_byte", 0.0),
        "churn.written_bytes_per_input_byte":
            churn.get("written_bytes_per_input_byte", 0.0),
        "host.steal_share": steal_share(rec),
        "run.error_rate": error_rate,
        "trace.overhead_s":
            e2e["pass_s"] - untraced if untraced is not None else 0.0,
    }
    for k in ("functions.dot_s", "functions.sorted_intersect_s",
              "functions.minhash_agg_s", "functions.kmv_agg_s",
              "media.decode_frame_s", "media.detect_scenes_s",
              "host.cpu_probe_s", "host.io_probe_s"):
        m[k] = probes.get(k, 0.0)
    for f in FAMILIES:
        for s in STEPS:
            m[f"io.{f}.{s}_s"] = span_s(f"io.{f}.{s}") / passes
    rollup = stats.rollup([s for s in spans if s["op"] in timed or
                           s["id"] in timed])
    cover = [abs(o["self_s"] + o["covered_s"] - o["wall_s"])
             for o in rollup["ops"].values()]
    m_extra = {"span_count": len(spans),
               "span_self_s": rollup["self"],
               "op_accounting_max_error_s": max(cover, default=0.0),
               "parents_missing": sum(1 for s in spans if s["parent"]
                                      and s["parent"] not in by_id)}
    return m, m_extra


def report(a, rec, checks, spans, here):
    """Turn one run's record into the informational lines and the
    final result object."""
    fatal = rec.get("fatal")
    ops = rec.get("ops", [])
    bad_checks = {op for op, (ok, _) in checks.items() if not ok}
    bad_families = {_family(op) for op in bad_checks}
    # executions whose row count differs from the checked one
    counted = {(o["op"], o["pass"]) for o in ops}
    bad_rows = {(r["op"], r["pass"]) for r in rec.get("row_errors", [])}

    def wrong(o):
        if a.workload == "index_churn":
            return _family(o["op"]) in bad_families
        return o["op"] in bad_checks or (o["op"], o["pass"]) in bad_rows

    failed = [o for o in ops if not o["ok"] or wrong(o)]
    good = [(o["t1"] - o["t0"]) / 1e9 for o in ops
            if o["ok"] and not wrong(o)]
    # failures in warm-up and uncounted passes are not timed, but they
    # are failures
    untimed = rec.get("untimed_failures", []) + [
        r for r in rec.get("row_errors", [])
        if (r["op"], r["pass"]) not in counted]
    attempted = max(1, len(ops) + len(untimed) + (1 if fatal else 0))
    n_failed = len(failed) + len(untimed) + (1 if fatal else 0)
    correct = n_failed == 0 and not bad_checks and bool(checks)
    error_rate = n_failed / attempted
    tail, pct, beyond = stats.tail(good)
    passes = rec.get("passes", [])
    e2e = {
        "setup_s": (rec.get("ready_ms", rec.get("main_start_ms", 0)) -
                    rec["setup_clock_start_ms"]) / 1e3,
        "pass_s": stats.median(passes),
        "op_p50_s": stats.hd_median(good),
        # the latency at the rule's percentile, estimated like op_p50_s
        "op_tail_s": stats.hd_quantile(good, pct / 100.0),
        "heap_peak_mb": rec.get("heap_peak_mb", 0.0),
    }
    churn = _churn_e2e(rec)
    extra = {"error_rate": error_rate, "steal_share": steal_share(rec),
             "op_tail_pct": pct,
             "op_tail_beyond": beyond, "op_samples": len(good),
             "passes": len(passes), **churn}
    info = [f"bench: workload={a.workload} seed={a.seed} "
            f"trace={a.trace} passes={len(passes)} ops={len(ops)} "
            f"failed={n_failed}"]
    for name, unit in END_TO_END:
        info.append(f"bench: {name} = {e2e[name]:.6g} {unit}")
    info.append(f"bench: op_tail_s is p{pct:.1f} with {beyond} samples "
                f"beyond it, of {len(good)}")
    for k, v in sorted(churn.items()):
        info.append(f"bench: {k} = {v:.6g}")
    info.append(f"bench: error_rate = {error_rate:.6g}")
    for op, (ok, detail) in sorted(checks.items()):
        if not ok:
            info.append(f"bench: CHECK FAILED {op}: {detail}")
    for r in rec.get("row_errors", []):
        info.append(f"bench: CHECK FAILED {r['op']} pass {r['pass']}: "
                    f"{r['rows']} rows, {r['want']} expected")
    for u in rec.get("untimed_failures", []):
        info.append(f"bench: FAILED {u['op']} pass {u['pass']}: "
                    f"{u['err']}")
    if fatal:
        info.append(f"bench: FATAL {fatal}")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "metrics": e2e, "extra": extra, "passes": passes,
              "checks": {k: list(v) for k, v in checks.items()},
              "ops": [[o["op"], (o["t1"] - o["t0"]) / 1e9, o["ok"]]
                      for o in ops],
              "fatal": fatal, "oracle_s": rec.get("oracle_s", {}),
              "timed_s": rec.get("timed_s"), "check_s": rec.get("check_s"),
              "leftovers": rec.get("leftovers", {}),
              "row_errors": rec.get("row_errors", []),
              "rows_checked": len(rec.get("pass_rows", [])),
              "untimed_failures": rec.get("untimed_failures", []),
              "uncounted_passes": rec.get("uncounted_passes", 0)}
    if a.trace:
        # a run that stopped early has no timed region to break down
        layer, layer_extra = ({k: 0.0 for k, _ in PER_LAYER}, {}) if fatal \
            else per_layer(rec, spans, e2e, churn, error_rate, here,
                           a.workload)
        record["per_layer"] = layer
        record["trace_extra"] = layer_extra
        record["operator_ms"] = rec.get("operator_ms", [])
        record["spans"] = spans
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    final = {"correct": correct, "attempted": attempted,
             "failed": n_failed, "metrics": out}
    return {"record": record, "info": info, "final": final}
