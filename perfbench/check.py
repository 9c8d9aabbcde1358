"""Correctness checks, run outside the timed window.

Delivery: every generated recordId is accounted for exactly once by
following its `reingest-<batch>-<id>` chain through the backup sink;
the chain ends either in the ProcessingFailed channel (planted records
only) or in a delivery. The multiset of all primary-sink lines must
equal the multiset of the expected transformed lines.

LLM batch: each query's parquet output must equal its DuckDB oracle
query from `SparkEntry.oracleSql`, run over the tables the query read.
"""
import collections
import glob
import hashlib
import json
import os


def _data_files(d):
    return sorted(f for f in glob.glob(os.path.join(d, "*"))
                  if not os.path.basename(f).startswith((".", "_")) and os.path.isfile(f))


def _batches(root):
    out = {}
    for d in glob.glob(os.path.join(root, "batchId=*")):
        out[int(os.path.basename(d).split("=", 1)[1])] = _data_files(d)
    return out


def _line_hash(line):
    return int.from_bytes(hashlib.blake2b(line.encode("utf-8"), digest_size=8).digest(), "little")


def multiset_hash(lines):
    h = 0
    n = 0
    for l in lines:
        h = (h + _line_hash(l)) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, h


def primary_lines(out_dir):
    lines = []
    for files in _batches(os.path.join(out_dir, "primary")).values():
        for f in files:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
            if text:
                lines.extend(text[:-1].split("\n") if text.endswith("\n") else text.split("\n"))
    return lines


def delivery(out_dir, manifest):
    """Check one delivery run. Returns (attempted, failed, info) where
    info carries each record's final batch and re-ingest depth."""
    problems = []
    batch_of = {}
    for b, files in _batches(os.path.join(out_dir, "backup")).items():
        for f in files:
            with open(f) as fh:
                for line in fh:
                    rid = json.loads(line)["recordId"]
                    if rid in batch_of:
                        problems.append("%s read twice" % rid)
                    batch_of[rid] = b
    failed_ids = set()
    for files in _batches(os.path.join(out_dir, "processing-failed")).values():
        for f in files:
            with open(f) as fh:
                failed_ids.update(json.loads(l)["recordId"] for l in fh if l.strip())
    final = {}
    rounds = {}
    seen = set()
    bad = set()
    expected = []
    for rid, lines in manifest:
        if rid not in batch_of:
            bad.add(rid)
            continue
        cur, b, k = rid, batch_of[rid], 0
        seen.add(cur)
        while True:
            nxt = "reingest-%d-%s" % (b, cur)
            if nxt not in batch_of:
                break
            cur, b, k = nxt, batch_of[nxt], k + 1
            seen.add(cur)
        final[rid], rounds[rid] = b, k
        if lines is None:
            if cur not in failed_ids or k:
                bad.add(rid)
        else:
            if cur in failed_ids:
                bad.add(rid)
            expected.extend(lines)
    stray_failed = failed_ids - {rid for rid, lines in manifest if lines is None}
    strays = set(batch_of) - seen
    if stray_failed:
        problems.append("%d non-planted ids in the failed channel" % len(stray_failed))
    if strays:
        problems.append("%d unexpected ids in the backup sink" % len(strays))
    if bad:
        problems.append("%d records not accounted for" % len(bad))
    got = primary_lines(out_dir)
    line_diff = 0
    if multiset_hash(got) != multiset_hash(expected):
        c = collections.Counter(got)
        c.subtract(collections.Counter(expected))
        line_diff = sum(abs(v) for v in c.values())
        problems.append("primary lines differ from the expected transform (%d lines)" % line_diff)
    failed = min(len(manifest), len(bad) + len(stray_failed) + len(strays) + line_diff)
    rows_per_batch = collections.Counter(batch_of.values())
    return len(manifest), failed, {"final_batch": final, "first_batch": batch_of,
                                   "rounds": rounds, "rows": len(batch_of),
                                   "rows_per_batch": rows_per_batch, "problems": problems}


def _canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.reset_index(drop=True)


def oracle_results(tables_dir, oracle, queries):
    """Evaluate each query's DuckDB oracle over the tables; returns
    {query: dataframe or error string}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(tables_dir, t + ".parquet")))
    out = {}
    for q in queries:
        try:
            out[q] = _canon(con.execute(oracle[q]).df())
        except Exception as e:  # a missing or failing oracle fails the check
            out[q] = "oracle: %s" % str(e)[:200]
    return out


def llm(check_dir, want, queries):
    """Compare each query's output with its oracle result. Returns the
    list of queries that mismatch, with a reason."""
    import pandas as pd
    bad = []
    for q in queries:
        files = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        if isinstance(want[q], str) or not files:
            bad.append((q, want[q] if isinstance(want[q], str) else "no output"))
            continue
        got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
        w = want[q]
        if list(got.columns) != list(w.columns) or len(got) != len(w) or not got.equals(w):
            bad.append((q, "output differs from the oracle (%d vs %d rows)" % (len(got), len(w))))
    return bad
