#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run it from the repository root. The first run builds the program and
the Scala runner from source (sbt, offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, measures for `--seconds`, checks the outputs, and
prints one JSON object as the last line of stdout. With `--trace 0` it
reports the end-to-end metrics; with `--trace 1` it measures the workload
three times in one JVM (untraced at 4 cores, traced at 4 cores,
untraced at 1 core) and reports the per-layer metrics. See perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175
STARTED = time.time()

LLM_QUERIES = ["q239_spine_full", "q205_curation_pipeline", "q177_jaccard_join",
               "q215_ivfstore_pq_topk", "q208_mulaw_audio", "q211_ima_adpcm_audio"]

WORKLOADS = ("delivery", "llm_batch")
# Workload shapes. Sizes are fixed; the seed only chooses the bytes.
# delivery, open loop: `rate` records/s, one file every per_file/rate
# seconds, for --seconds. A micro-batch costs more than the 200 ms
# trigger, so the next batch starts as soon as the last one ends and a
# record's latency is the wait behind the running batch plus its own
# batch: both set by the program. `rate` is about half the 4-core drain
# capacity at 1,000-record batches.
PACED = dict(rate=400.0, per_file=40, trigger_ms=200)
# delivery, churn: a fixed backlog drained `files_per_trigger` files per
# micro-batch with the size cap at `cap_frac` of a full batch's governed
# bytes, `drains` times.
CHURN = dict(records=4000, per_file=250, files_per_trigger=4, trigger_ms=200,
             cap_frac=0.7, drains=2)
# delivery, set-up: cold starts over a small priming backlog, one file
# per 200 ms micro-batch.
SETUP = dict(files=1, per_file=50, trigger_ms=200)
# llm_batch: the committed 1,000-document sample; queries in `small`
# are checked over its first `small_docs` documents, because DuckDB
# evaluates their oracle too slowly on the whole sample.
LLM = dict(docs=1000, small_docs=20, small=["q211_ima_adpcm_audio"])

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench %5.1fs] %s" % (time.time() - STARTED, msg), file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


# ---- build -------------------------------------------------------------

def _digest():
    h = hashlib.sha256()
    for rel in ["src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project"]:
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found under %s; run from the repo root" % ROOT)
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    digest = _digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building the program and the runner (sbt)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-error", "writeClasspath"],
                             cwd=os.path.join(ROOT, "perfbench"), stdout=out, stderr=out,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail("build failed, see .bench_build/build.log")
    shutil.copy(os.path.join(ROOT, "perfbench", "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


# ---- inputs ------------------------------------------------------------

def write_plan(work, **kv):
    with open(os.path.join(work, "plan.txt"), "w") as fh:
        for k, v in kv.items():
            fh.write("%s=%s\n" % (k, v))


def prepare(workload, seed, seconds, work):
    """Generate the workload's inputs; return what the checks need."""
    if workload == "delivery":
        # one file more than the offered period needs: the warm-up
        n = int(round(PACED["rate"] * seconds))
        n -= n % PACED["per_file"]
        n += PACED["per_file"]
        events = gen.load_events()
        paced = gen.make_records(events, seed, n, "p%d" % seed)
        gen.write_record_files(paced, os.path.join(work, "staged"), PACED["per_file"])
        churn = gen.make_records(events, seed + 1, CHURN["records"], "c%d" % seed)
        gen.write_record_files(churn, os.path.join(work, "backlog"), CHURN["per_file"])
        prime = gen.make_records(events, seed + 2, SETUP["files"] * SETUP["per_file"],
                                 "s%d" % seed)
        gen.write_record_files(prime, os.path.join(work, "prime"), SETUP["per_file"])
        # the churn cap drops ~30% of each full batch's governed bytes,
        # sized from the generator's own expected output
        sizes = [gen.governed_size(r, l) for r, _, l in churn if l is not None]
        per_batch = CHURN["per_file"] * CHURN["files_per_trigger"]
        write_plan(work, **{
            "paced.trigger_ms": PACED["trigger_ms"], "paced.size_cap": 1 << 40,
            "paced.file_period_ms": 1000.0 * PACED["per_file"] / PACED["rate"],
            "churn.trigger_ms": CHURN["trigger_ms"],
            "churn.size_cap": int(statistics.fmean(sizes) * per_batch * CHURN["cap_frac"]),
            "churn.max_files_per_trigger": CHURN["files_per_trigger"],
            "churn.drains": CHURN["drains"],
            "setup.trigger_ms": SETUP["trigger_ms"], "setup.size_cap": 1 << 40,
            "setup.max_files_per_trigger": 1})
        return dict(paced=[(r, l) for r, _, l in paced], churn=[(r, l) for r, _, l in churn])
    gen.make_tables(os.path.join(work, "tables"), seed)
    gen.make_tables(os.path.join(work, "tables_small"), seed, n_docs=LLM["small_docs"])
    write_plan(work, **{"queries": ",".join(LLM_QUERIES), "check.small": ",".join(LLM["small"])})
    return {}


# ---- one JVM segment ---------------------------------------------------

def segment(cp, workload, work, cores, seconds, phases, tag):
    """Run the Scala runner once; return its raw result."""
    out = os.path.join(work, "result-%s.json" % tag)
    tmp = os.path.join(work, tag, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-Djava.io.tmpdir=" + tmp]
           + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--work", work,
              "--cores", str(cores), "--seconds", str(seconds), "--phases", phases,
              "--tag", tag, "--out", out])
    log("segment %s: %s at local[%d], phases %s" % (tag, workload, cores, phases))
    t_start = time.time()
    logfile = os.path.join(work, "jvm-%s.log" % tag)
    with open(logfile, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=fh, stdin=subprocess.DEVNULL)
        try:
            oracle = None
            if workload == "llm_batch":
                oracle = oracle_while_warming(proc, os.path.join(work, tag))
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - STARTED)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("segment %s ran out of time" % tag)
    if rc != 0 or not os.path.exists(out):
        with open(logfile) as fh:
            tail = [l for l in fh.read().splitlines() if "Exception" in l][-5:]
        fail("segment %s exited with %d: %s" % (tag, rc, " | ".join(tail)))
    log("segment %s took %.1fs" % (tag, time.time() - t_start))
    with open(out) as fh:
        res = json.load(fh)
    res["oracle_results"] = oracle
    return res


def oracle_while_warming(proc, seg_dir):
    """Evaluate the DuckDB oracles while the runner does its untimed
    check pass; the runner starts measuring only after `oracle.done`.
    Each query's oracle runs over the tables its check pass read."""
    sql_file = os.path.join(seg_dir, "oracle.json")
    while not os.path.exists(sql_file) and proc.poll() is None:
        time.sleep(0.1)
    if proc.poll() is not None:
        return None
    with open(sql_file) as fh:
        oracle = json.load(fh)
    t0 = time.time()
    work = os.path.dirname(seg_dir)
    want = check.oracle_results(os.path.join(work, "tables"), oracle,
                                [q for q in LLM_QUERIES if q not in LLM["small"]])
    want.update(check.oracle_results(os.path.join(work, "tables_small"), oracle, LLM["small"]))
    log("oracles evaluated in %.1fs" % (time.time() - t0))
    open(os.path.join(seg_dir, "oracle.done"), "w").close()
    return want


# ---- end-to-end figures and checks ---------------------------------------

def evaluate(workload, phase, inputs, seg):
    """Check one measured phase and compute its end-to-end figures.

    Returns a dict with attempted, failed, the figures and a detail dict."""
    if workload == "delivery":
        attempted = failed = 0
        figures = {}
        detail = dict(problems=[], drain_infos=[], records_per_s=[])
        if "paced" in phase:
            paced, manifest = phase["paced"], inputs["paced"]
            attempted, failed, info = check.delivery(os.path.join(paced["dir"], "output"),
                                                     manifest)
            # the warm-up file's batches come before the offered period
            batches = [b for b in paced["batches"] if b[0] > paced["warmup_batch"]]
            start = {b[0]: b[1] for b in batches}
            end = {b[0]: b[1] + b[2] for b in batches}
            # record i sits in file i // per_file, due when the publisher says
            due = [p[1] for p in paced["published"]]
            per_file = PACED["per_file"]
            # the end of the batch before each one: a record waits behind it
            ordered = sorted(start, key=start.get)
            prev_end = {b: end[a] for a, b in zip(ordered, ordered[1:])}
            lat, wait, idle = [], [], []
            for i, (rid, _) in enumerate(manifest[per_file:], per_file):
                if rid in info["final_batch"]:
                    d, b = due[i // per_file], info["first_batch"][rid]
                    lat.append(end[info["final_batch"][rid]] - d)
                    wait.append(start[b] - d)
                    # engine idle, waiting for the trigger: set by the benchmark
                    idle.append(max(0, start[b] - max(d, prev_end.get(b, d))))
            late = [p[2] - p[1] for p in paced["published"][1:]]
            busy_s = sum(b[2] for b in batches) / 1000.0
            rows = sum(info["rows_per_batch"][b] for b in start)
            detail.update(paced_info=info, paced_batches=batches, queue_wait_ms=wait,
                          capacity_rps=rows / busy_s,
                          trigger_wait_frac=sum(idle) / sum(lat) if lat else 0.0,
                          publisher_late_ms_p99=layers.pct(late, 99),
                          backlog_at_offered_end=sum(1 for b in info["final_batch"].values()
                                                     if b in end and end[b] > paced["offered_end"]))
            detail["problems"] += info["problems"]
            figures.update(latency_p50_ms=layers.pct(lat, 50), latency_p90_ms=layers.pct(lat, 90))
        for d in phase["drains"]:
            a, f, dinfo = check.delivery(os.path.join(d["dir"], "output"), inputs["churn"])
            attempted, failed = attempted + a, failed + f
            # from the first micro-batch's start: query start-up is in setup_s
            first = min(b[1] for b in d["batches"])
            last = max(b[1] + b[2] for b in d["batches"])
            detail["records_per_s"].append(len(inputs["churn"]) / ((last - first) / 1000.0))
            detail["drain_infos"].append(dinfo)
            detail["problems"] += dinfo["problems"]
        figures["throughput_rps"] = statistics.median(detail["records_per_s"])
    else:
        passes = {}
        for q, p, _, ms in phase["passes"]:
            passes[p] = passes.get(p, 0.0) + ms
        totals = list(passes.values())
        attempted = len(phase["passes"])
        failed = min(attempted, len(phase["errors"]))
        figures = dict(latency_p50_ms=statistics.median(totals), latency_p90_ms=max(totals),
                       throughput_rps=LLM["docs"] / (statistics.median(totals) / 1000.0))
        detail = dict(passes=len(totals), pass_ms=totals, problems=list(phase["errors"]))
    figures["setup_s"] = statistics.median(seg["setup_s"])
    return dict(attempted=attempted, failed=failed, figures=figures, detail=detail)


def check_llm(seg):
    """The oracle check of the segment's set-up pass."""
    phase = next(iter(seg["phases"].values()))
    if seg["oracle_results"] is None:
        return len(LLM_QUERIES), len(LLM_QUERIES), ["oracle results missing"]
    bad = check.llm(phase["check_dir"], seg["oracle_results"], LLM_QUERIES)
    return len(LLM_QUERIES), len(bad), ["%s: %s" % b for b in bad]


# ---- main --------------------------------------------------------------

UNITS = {"latency_p50_ms": "ms", "latency_p90_ms": "ms", "throughput_rps": "1/s", "setup_s": "s"}


def run(workload, seed, seconds, trace):
    cp = build()
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = prepare(workload, seed, seconds, work)
        seg = segment(cp, workload, work, 4, seconds,
                      "plain,traced,single" if trace else "plain", "four")
        evals = {name: evaluate(workload, ph, inputs, seg) for name, ph in seg["phases"].items()}
        attempted = sum(e["attempted"] for e in evals.values())
        failed = sum(e["failed"] for e in evals.values())
        problems = [p for e in evals.values() for p in e["detail"]["problems"]]
        if workload == "llm_batch":
            a, f, p = check_llm(seg)
            attempted, failed, problems = attempted + a, failed + f, problems + p
        plain = evals["plain"]
        if not trace:
            metrics = {k: {"value": plain["figures"][k], "unit": u} for k, u in UNITS.items()}
            log("%s: %s" % (workload, json.dumps(
                {k: round(v, 4) for k, v in plain["figures"].items()})))
        else:
            values = layers.per_layer(workload, seg, evals)
            metrics = {n: {"value": values[n], "unit": u} for n, u, _, _ in layers.CATALOG}
            for n, u, moves, on in layers.CATALOG:
                print("%-36s %14.4f %-5s moves %s on %s" % (n, values[n], u, moves, on))
            layers.write_trace(os.path.join(BUILD, "traces", "%s-%d.json" % (workload, seed)),
                               seg["phases"]["traced"])
        for p in problems[:10]:
            log("check: " + p)
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        return selftest.main()
    if a.workload not in WORKLOADS:
        fail("--workload must be one of " + ", ".join(WORKLOADS))
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
