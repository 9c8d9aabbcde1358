"""Per-layer metrics of the traced run, and the interaction map.

CATALOG lists every per-layer metric: name, unit, the end-to-end metric
it should move, and the workload (and part of it) it should move it on.
A layer that a workload does not exercise reports 0 on that workload.
"""
import json
import os
import re
import statistics

LLM_LAYERS = [("spine", "q239_spine_full"), ("curation", "q205_curation_pipeline"),
              ("jaccard", "q177_jaccard_join"), ("ivf_pq", "q215_ivfstore_pq_topk"),
              ("mulaw", "q208_mulaw_audio"), ("adpcm", "q211_ima_adpcm_audio")]

_OPEN = "delivery (open loop)"
_CHURN = "delivery (churn drains)"
_BOTH = "delivery (both parts); nothing on llm_batch"
_LLM = "llm_batch; nothing on delivery"
_LAT = "latency_p50_ms, latency_p90_ms"

CATALOG = [
    ("delivery.batches", "count", _LAT, _OPEN),
    ("delivery.records_per_batch_p50", "count", _LAT, _OPEN),
    ("delivery.batch_ms_p50", "ms", _LAT, _OPEN),
    ("delivery.batch_ms_p95", "ms", _LAT, _OPEN),
    ("delivery.busy_frac", "frac", _LAT, _OPEN),
    ("delivery.capacity_rps", "1/s", "latency_p50_ms", _OPEN),
    ("delivery.queue_wait_ms_p50", "ms", "latency_p90_ms", _OPEN),
    ("delivery.trigger_wait_frac", "frac", "none (benchmark-set share of latency)", _OPEN),
    ("source.latest_offset_ms_p50", "ms", "latency_p90_ms", _OPEN),
    ("engine.query_planning_ms_p50", "ms", "latency_p90_ms", _OPEN),
    ("engine.wal_commit_ms_p50", "ms", "latency_p90_ms", _OPEN),
    ("delivery.add_batch_ms_p50", "ms", "latency_p90_ms", _OPEN),
    ("delivery.self_ms_p50", "ms", "latency_p90_ms", _OPEN),
    ("delivery.jobs_per_batch", "count", "latency_p50_ms", _OPEN),
    ("delivery.tasks_per_batch", "count", "latency_p50_ms", _OPEN),
    ("delivery.task_cpu_ms_per_batch", "ms", "latency_p50_ms", _OPEN),
    ("delivery.sink_overlap_frac", "frac", "latency_p50_ms", _OPEN),
    ("sink.stats_probe_ms", "ms", "latency_p50_ms", _OPEN),
    ("sink.primary_ms", "ms", "latency_p50_ms", _OPEN),
    ("sink.backup_ms", "ms", "latency_p50_ms", _OPEN),
    ("sink.failed_ms", "ms", "latency_p50_ms", _OPEN),
    ("sink.files_written", "count", "latency_p50_ms", _OPEN),
    ("sink.bytes_written", "bytes", "latency_p50_ms", _OPEN),
    ("publisher.late_ms_p99", "ms", "none (diagnostic)", _OPEN),
    ("publisher.backlog_records", "count", "none (diagnostic)", _OPEN),
    ("transform.ms_per_krec", "ms", "throughput_rps", _BOTH),
    ("transform.ok_records", "count", "throughput_rps", _BOTH),
    ("transform.failed_records", "count", "throughput_rps", _BOTH),
    ("governor.ms_per_batch", "ms", "throughput_rps", _CHURN),
    ("governor.dropped_records", "count", "throughput_rps", _CHURN),
    ("sink.reingest_ms", "ms", "throughput_rps", _CHURN),
    ("reingest.records", "count", "throughput_rps", _CHURN),
    ("reingest.useful_frac", "frac", "throughput_rps", _CHURN),
    ("reingest.rounds_max", "count", "throughput_rps", _CHURN),
    ("churn.batches_per_drain", "count", "throughput_rps", _CHURN),
    ("churn.batch_ms_p50", "ms", "throughput_rps", _CHURN),
]
for _layer, _q in LLM_LAYERS:
    _moves = "latency_p50_ms, throughput_rps"
    CATALOG += [
        ("%s.wall_s" % _layer, "s", _moves, _LLM),
        ("%s.jobs" % _layer, "count", _moves, _LLM),
        ("%s.stages" % _layer, "count", _moves, _LLM),
        ("%s.tasks" % _layer, "count", _moves, _LLM),
        ("%s.task_cpu_s" % _layer, "s", _moves, _LLM),
        ("%s.max_task_s" % _layer, "s", _moves, _LLM),
        ("%s.shuffle_write_mb" % _layer, "MB", _moves, _LLM),
        ("%s.shuffle_read_mb" % _layer, "MB", _moves, _LLM),
        ("%s.spill_mb" % _layer, "MB", _moves, _LLM),
        ("%s.plan_ms" % _layer, "ms", _moves, _LLM),
        ("%s.result_mb" % _layer, "MB", _moves, _LLM),
        ("%s.concurrent_job_s" % _layer, "s", _moves, _LLM),
        ("%s.driver_self_s" % _layer, "s", _moves, _LLM),
        ("%s.speedup_4v1" % _layer, "ratio", "none (diagnostic)", _LLM),
    ]
CATALOG += [
    ("engine.window_no_partition_warnings", "count", "none (count)", "all"),
    ("scaling.speedup_4v1", "ratio", "none (diagnostic)", "all"),
    ("trace.overhead_frac", "frac", "none (diagnostic)", "all"),
]

_MB = 1024.0 * 1024.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Linear-interpolated percentile; 0 for an empty list."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _jobs(phase):
    """Jobs the listener saw start and end, as dicts."""
    keys = ["id", "start", "group", "desc", "end"]
    return [dict(zip(keys, j)) for j in phase.get("jobs", []) if j[4] >= 0]


def _stage_sums(phase, job_ids):
    """tasks, cpu s, max task s, shuffle write, shuffle read, spill and
    result bytes, and the number of stages, over the jobs' stages."""
    out = [0, 0.0, 0.0, 0, 0, 0, 0, 0]
    for s in phase.get("stages", []):
        if s[1] in job_ids:
            out[0] += s[2]
            out[1] += s[3] / 1e9
            out[2] = max(out[2], s[5] / 1000.0)
            out[3] += s[6]
            out[4] += s[7]
            out[5] += s[8]
            out[6] += s[9]
            out[7] += 1
    return out


def _walk(root):
    n = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _delivery(v, traced, detail):
    """Per-layer figures of the traced delivery phase. The open loop
    gives the delivery, source, engine and sink figures; the first
    churn drain gives the governor and re-ingest figures."""
    paced = traced["paced"]
    batches = detail["paced_batches"]
    n = len(batches)
    window = (paced["t0"], max(b[1] + b[2] for b in batches))
    info = detail["paced_info"]
    v["delivery.batches"] = n
    v["delivery.records_per_batch_p50"] = _median([info["rows_per_batch"][b[0]] for b in batches])
    trig = [b[2] for b in batches]
    v["delivery.batch_ms_p50"] = _median(trig)
    v["delivery.batch_ms_p95"] = pct(trig, 95)
    v["delivery.busy_frac"] = sum(trig) / (window[1] - paced["t0"])
    v["delivery.capacity_rps"] = detail["capacity_rps"]
    v["source.latest_offset_ms_p50"] = _median([b[3] for b in batches])
    v["engine.query_planning_ms_p50"] = _median([b[4] for b in batches])
    v["engine.wal_commit_ms_p50"] = _median([b[5] for b in batches])
    v["delivery.add_batch_ms_p50"] = _median([b[6] for b in batches])
    v["delivery.queue_wait_ms_p50"] = _median(detail["queue_wait_ms"])
    v["delivery.trigger_wait_frac"] = detail["trigger_wait_frac"]
    v["publisher.late_ms_p99"] = detail["publisher_late_ms_p99"]
    v["publisher.backlog_records"] = detail["backlog_at_offered_end"]

    # jobs carry the streaming batch in their description
    by_batch = {}
    for j in _jobs(traced):
        m = re.search(r"runId = (\S+)\s+batch = (\d+)", j["desc"])
        if m and window[0] <= j["start"] <= window[1]:
            by_batch.setdefault((m.group(1), int(m.group(2))), []).append(j)
    ids = {j["id"] for js in by_batch.values() for j in js}
    sums = _stage_sums(traced, ids)
    v["delivery.jobs_per_batch"] = len(ids) / n
    v["delivery.tasks_per_batch"] = sums[0] / n
    v["delivery.task_cpu_ms_per_batch"] = sums[1] * 1000.0 / n
    covered = sum(_union([(j["start"], j["end"]) for j in js]) for js in by_batch.values())
    summed = sum(j["end"] - j["start"] for js in by_batch.values() for j in js)
    v["delivery.sink_overlap_frac"] = 1.0 - covered / summed if summed else 0.0
    # self time: each batch span minus the part of it its jobs cover
    jobs = [(j["start"], j["end"]) for js in by_batch.values() for j in js]
    selfs = []
    for _, s, e in traced.get("spans", []):
        if window[0] <= s <= window[1]:
            inside = [(max(a, s), min(b, e)) for a, b in jobs if a < e and b > s]
            selfs.append((e - s) - _union(inside))
    v["delivery.self_ms_p50"] = _median(selfs)

    per = dict(stats=0.0, primary=0.0, backup=0.0, failed=0.0)
    for func, path, ms, _, at in traced.get("actions", []):
        if not window[0] <= at <= window[1] + 2000:
            continue
        if func == "head":
            per["stats"] += ms
        elif "/primary/" in path:
            per["primary"] += ms
        elif "/backup/" in path:
            per["backup"] += ms
        elif "/processing-failed/" in path:
            per["failed"] += ms
    for k, name in (("stats", "stats_probe"), ("primary", "primary"), ("backup", "backup"),
                    ("failed", "failed")):
        v["sink.%s_ms" % name] = per[k] / n
    files = size = 0
    for sub in ("primary", "backup", "processing-failed"):
        for b in batches:
            f, sz = _walk(os.path.join(paced["dir"], "output", sub, "batchId=%d" % b[0]))
            files, size = files + f, size + sz
    v["sink.files_written"] = files / n
    v["sink.bytes_written"] = size / n

    rep = traced.get("replay_paced", []) + traced.get("replay_churn", [])
    n_rec = sum(r[0] for r in rep)
    v["transform.ms_per_krec"] = sum(r[1] for r in rep) / n_rec * 1000.0 if n_rec else 0.0
    v["transform.ok_records"] = sum(r[2] for r in rep)
    v["transform.failed_records"] = sum(r[3] for r in rep)

    drain = traced["drains"][0]
    dinfo = detail["drain_infos"][0]
    churn_rep = traced.get("replay_churn", [])
    v["governor.ms_per_batch"] = _median([r[4] for r in churn_rep])
    v["governor.dropped_records"] = sum(r[5] for r in churn_rep)
    v["reingest.records"] = dinfo["rows"] - len(dinfo["final_batch"])
    v["reingest.useful_frac"] = len(dinfo["final_batch"]) / dinfo["rows"]
    v["reingest.rounds_max"] = max(dinfo["rounds"].values())
    v["churn.batches_per_drain"] = len(drain["batches"])
    v["churn.batch_ms_p50"] = _median([b[2] for b in drain["batches"]])
    reingest = sum(a[2] for a in traced.get("actions", [])
                   if "reingest-batch-" in a[1] and drain["start"] <= a[4] <= drain["end"] + 2000)
    v["sink.reingest_ms"] = reingest / len(drain["batches"])


def _llm(v, traced):
    jobs = _jobs(traced)
    passes = traced["passes"]
    n_pass = 1 + max(p[1] for p in passes)
    for layer, q in LLM_LAYERS:
        groups = {"traced%d:%s" % (k, q) for k in range(n_pass)}
        qj = [j for j in jobs if j["group"] in groups]
        sums = _stage_sums(traced, {j["id"] for j in qj})
        walls = [p[3] for p in passes if p[0] == q]
        runs = [(p[2], p[2] + p[3]) for p in passes if p[0] == q]
        covered = sum(_union([(j["start"], j["end"]) for j in qj if j["group"] == g])
                      for g in groups)
        v["%s.wall_s" % layer] = _median(walls) / 1000.0
        v["%s.jobs" % layer] = len(qj) / n_pass
        v["%s.stages" % layer] = sums[7] / n_pass
        v["%s.tasks" % layer] = sums[0] / n_pass
        v["%s.task_cpu_s" % layer] = sums[1] / n_pass
        v["%s.max_task_s" % layer] = sums[2]
        v["%s.shuffle_write_mb" % layer] = sums[3] / _MB / n_pass
        v["%s.shuffle_read_mb" % layer] = sums[4] / _MB / n_pass
        v["%s.spill_mb" % layer] = sums[5] / _MB / n_pass
        v["%s.result_mb" % layer] = sums[6] / _MB / n_pass
        # an action belongs to the query run its midpoint falls in
        v["%s.plan_ms" % layer] = sum(
            a[3] for a in traced.get("actions", [])
            if any(s <= a[4] - a[2] / 2 <= e for s, e in runs)) / n_pass
        v["%s.concurrent_job_s" % layer] = (
            sum(j["end"] - j["start"] for j in qj) - covered) / 1000.0 / n_pass
        v["%s.driver_self_s" % layer] = (sum(walls) - covered) / 1000.0 / n_pass


def per_layer(workload, seg, evals):
    """All CATALOG values for one workload's traced run.

    `seg` holds the phases plain and traced (4 cores) and single
    (1 core); `evals` their evaluations."""
    v = {name: 0.0 for name, _, _, _ in CATALOG}
    phases = seg["phases"]
    tphase = phases["traced"]
    plain, traced, single = evals["plain"], evals["traced"], evals["single"]
    if workload == "llm_batch":
        _llm(v, tphase)
        for layer, q in LLM_LAYERS:
            t4 = [p[3] for p in phases["plain"]["passes"] if p[0] == q]
            t1 = [p[3] for p in phases["single"]["passes"] if p[0] == q]
            v["%s.speedup_4v1" % layer] = _median(t1) / _median(t4)
        key = "latency_p50_ms"
        v["scaling.speedup_4v1"] = single["figures"][key] / plain["figures"][key]
        v["trace.overhead_frac"] = traced["figures"][key] / plain["figures"][key] - 1
    else:
        _delivery(v, tphase, traced["detail"])
        # warm figures only: the plain phase's first drain is the JVM's
        # first real work, and each open loop runs after a drain
        v["scaling.speedup_4v1"] = (plain["detail"]["records_per_s"][-1]
                                    / single["detail"]["records_per_s"][-1])
        key = "latency_p50_ms"
        v["trace.overhead_frac"] = traced["figures"][key] / plain["figures"][key] - 1
    v["engine.window_no_partition_warnings"] = tphase["window_no_partition_warnings"]
    return v


def write_trace(path, traced):
    """Spans of the traced phase with their jobs as children and each
    span's self time (its duration minus what its children cover)."""
    jobs = _jobs(traced)
    spans = [{"name": name, "start": s, "end": e} for name, s, e in traced.get("spans", [])]
    spans += [{"name": "query %s" % p[0], "pass": p[1], "start": p[2], "end": p[2] + p[3]}
              for p in traced.get("passes", [])]
    for sp in spans:
        kids = [j for j in jobs if j["start"] < sp["end"] and j["end"] > sp["start"]]
        sp["children"] = [{"name": "job %d" % j["id"], "start": j["start"], "end": j["end"]}
                          for j in kids]
        sp["self_ms"] = (sp["end"] - sp["start"]) - _union(
            [(max(j["start"], sp["start"]), min(j["end"], sp["end"])) for j in kids])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": spans}, fh)
