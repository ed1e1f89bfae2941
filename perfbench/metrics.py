"""Turn the JVM's raw run record into the benchmark's named metrics.

End-to-end metrics come from the untraced passes, per-layer metrics from
the traced ones. A job call that threw, or a job whose output check failed,
counts as failed; a call that threw is never timed.
"""
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

FILE_JOBS = ["prepare", "tile", "convert", "merge", "split", "dedup"]
LLM_JOBS = ["q41_minhash_lsh_pairs", "q87_bucketed_incremental_dedup",
            "q238_span_lang_census"]
WORKLOAD_JOBS = {"file_prep": FILE_JOBS, "llm_corpus": LLM_JOBS}
KERNELS = ["hash60", "tokensHash60", "charGramBuckets", "spanMd5s",
           "minhashSignature", "winnowFps", "textQualityStats", "tokenCount",
           "ctDistances"]
TAIL = 0.9

# (name, unit, better) of every end-to-end metric
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("job_s.gmean", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("ok_ratio", "1", "higher"),
    ("storage_peak_mb", "MB", "lower"),
    ("output_bytes_ratio", "1", "lower"),
]

ENGINE = [("spark.task_s", "s"), ("spark.gc_s", "s"), ("spark.tasks", "count"),
          ("spark.single_task_stages", "count"), ("spark.scan.bytes", "B"),
          ("spark.scan.rows", "count"), ("spark.shuffle.write_bytes", "B"),
          ("spark.shuffle.read_bytes", "B"), ("spark.shuffle.fetch_wait_s", "s"),
          ("spark.spill_bytes", "B"), ("spark.task_failures", "count"),
          ("plan.exchanges", "count"), ("plan.reused_exchanges", "count"),
          ("plan.bhj", "count"), ("plan.sort_aggregates", "count"),
          ("plan.expands", "count"), ("plan.windows", "count"),
          ("spark.broadcast.bytes", "B"), ("spark.broadcast.build_s", "s")]

# (name, unit) of every per-layer metric
PER_LAYER = (
    [("images.prepare_s", "s"), ("images.tile_s", "s"), ("images.convert_s", "s"),
     ("images.scan_s", "s"), ("images.dims_s", "s"), ("images.tiles_s", "s"),
     ("images.ms_per_tile", "ms"), ("images.quarantined", "count"),
     ("text.merge_s", "s"), ("text.split_s", "s"), ("text.dedup_s", "s"),
     ("io.sinks.write_s", "s"), ("io.sinks.files", "count"), ("io.sinks.bytes", "B"),
     ("io.layout.landing_s", "s"), ("io.layout.relands", "count"),
     ("io.layout.landed_mb", "MB"), ("memo.build_s", "s"), ("memo.rebuilds", "count")]
    + [(f"functions.{k}.ns_row", "ns") for k in KERNELS]
    + ENGINE + [("spark.core_busy", "1")]
    + [(f"job.{j}.s", "s") for js in WORKLOAD_JOBS.values() for j in js]
    + [("trace.overhead_s", "s"), ("trace.spans", "count")])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def pass_seconds(p):
    """Wall time of the pass's successful calls (failed calls are not timed)."""
    return sum(c["s"] for c in p["calls"] if c["ok"])


def accounting(passes, check_failures):
    """(attempted, failed): a call fails if it threw or its job's output
    check failed."""
    calls = [c for p in passes for c in p["calls"]]
    failed = sum(1 for c in calls if not c["ok"] or c["name"] in check_failures)
    return len(calls), failed


def end_to_end(rec, check_failures):
    passes = [p for p in rec["passes"] if not p["traced"]]
    attempted, failed = accounting(passes, check_failures)
    samples = [c["s"] for p in passes for c in p["calls"] if c["ok"]]
    names = sorted({c["name"] for p in passes for c in p["calls"]})
    job_median = {n: median([c["s"] for p in passes for c in p["calls"]
                             if c["name"] == n and c["ok"]]) for n in names}
    timed = [v for v in job_median.values() if v > 0]
    values = {
        "setup_s": median(rec["setup_s"]),
        "pass_s": median([pass_seconds(p) for p in passes]),
        "job_s.gmean": statistics.geometric_mean(timed) if timed else 0.0,
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "ok_ratio": 1.0 - failed / attempted if attempted else 0.0,
        "storage_peak_mb": max([p["storage_peak_bytes"] for p in passes], default=0) / 1e6,
        "output_bytes_ratio": rec["output_bytes"] / max(1, rec["input_bytes"]),
    }
    info = {"job_median_s": job_median,
            "job_s.p50": median(samples),
            "job_s.p90": percentile(samples, TAIL),
            "pass_list_s": [pass_seconds(p) for p in passes],
            "job_samples": len(samples),
            "failed_ratio": failed / attempted if attempted else 1.0,
            "passes": len(passes)}
    return values, attempted, failed, info


def per_layer(rec, check_failures):
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["traced"]]
    attempted, failed = accounting(traced, check_failures)

    def job_s(name):
        return median([c["s"] for p in traced for c in p["calls"]
                       if c["name"] == name and c["ok"]])

    probes = rec.get("layer_probes", [])

    def probe(k):
        return median([x[k] for x in probes])

    v = {f"job.{j}.s": job_s(j) for js in WORKLOAD_JOBS.values() for j in js}
    tile_s = job_s("tile")
    tiles = rec.get("tiles_written", 0)
    v.update({
        "images.prepare_s": job_s("prepare"), "images.tile_s": tile_s,
        "images.convert_s": job_s("convert"),
        "images.scan_s": probe("scan_s"),
        "images.dims_s": probe("dims_s") - probe("scan_s") if probes else 0.0,
        "images.tiles_s": probe("tiles_s") - probe("dims_s") if probes else 0.0,
        "images.ms_per_tile": 1000.0 * tile_s / tiles if tiles else 0.0,
        "images.quarantined": (rec["scanned_images"] - rec["converted"]
                               if "scanned_images" in rec else 0),
        "text.merge_s": job_s("merge"), "text.split_s": job_s("split"),
        "text.dedup_s": job_s("dedup"),
        "io.sinks.write_s": probe("sink_s"), "io.sinks.files": probe("sink_files"),
        "io.sinks.bytes": probe("sink_bytes"),
        "io.layout.landing_s": sum(rec["landing_s"].values()),
        "io.layout.relands": sum(rec["relands"].values()),
        "io.layout.landed_mb": rec["landed_bytes"] / 1e6,
        "memo.build_s": sum(rec["memo_build_s"].values()),
        "memo.rebuilds": sum(rec["rebuilds"].values()),
    })
    for k in KERNELS:
        v[f"functions.{k}.ns_row"] = rec.get("kernels_ns_row", {}).get(k, 0.0)
    for name, _ in ENGINE:
        v[name] = median([p.get("engine", {}).get(name, 0.0) for p in traced])
    busy = [p.get("engine", {}).get("spark.task_s", 0.0) / (pass_seconds(p) * rec["cores"])
            for p in traced if pass_seconds(p) > 0]
    v["spark.core_busy"] = median(busy)
    # best of each kind: a pass still warming up is only ever slower
    v["trace.overhead_s"] = (min(map(pass_seconds, traced), default=0.0)
                             - min(map(pass_seconds, untraced), default=0.0))
    v["trace.spans"] = rec.get("span_count", 0)
    info = {"self_s": rec.get("self_s", {}), "traced_passes": len(traced),
            "untraced_passes": len(untraced),
            "pass_list_s": [pass_seconds(p) for p in rec["passes"]]}
    return v, attempted, failed, info


def result(rec, check_failures, traced):
    """The benchmark's result object: correct, attempted, failed, metrics."""
    if traced:
        values, attempted, failed, info = per_layer(rec, check_failures)
        units = dict(PER_LAYER)
    else:
        values, attempted, failed, info = end_to_end(rec, check_failures)
        units = {n: u for n, u, _ in END_TO_END}
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in units}
    return {"correct": failed == 0 and not check_failures, "attempted": attempted,
            "failed": failed, "metrics": metrics}, info
