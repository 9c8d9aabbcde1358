"""Seeded input generator for the benchmark workloads.

The generator builds every input byte itself from the committed sf0.1
sample in `data/` (see sample.py): the CloudWatch Logs envelope JSON,
its gzip and its base64 framing for the delivery workload, and seeded
row orders of the `documents`/`embeddings` tables for the LLM batch
workload. Nothing here calls the program, so a program change cannot
change the workload bytes. The same seed gives the same bytes.

Each delivery record carries the expected primary-sink lines (the
reference transform, `Hello` -> `Hell Yeah`, one line per log event) in
the manifest, so the correctness check never asks the program what the
answer should be.
"""
import base64
import datetime
import gzip
import json
import os
import random

# Every 100 records hold one CONTROL_MESSAGE envelope and one truncated
# gzip stream, at fixed positions. Both must land in the ProcessingFailed
# channel, so that sink does real work on every run.
CONTROL_AT, CORRUPT_AT = 17, 67
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def load_events(path=os.path.join(DATA, "events.parquet")):
    """The committed sf0.1 events sample as CloudWatch Logs log events,
    one list per user in event_id order, the envelope the project's own
    producer (`PipelineQueries.envelopes`) builds from `events`."""
    import pyarrow.parquet as pq
    t = pq.read_table(path).sort_by("event_id").to_pydict()
    by_user = {}
    for eid, ts, uid, etype, props in zip(t["event_id"], t["ts"], t["user_id"],
                                          t["event_type"], t["props"]):
        by_user.setdefault(uid, []).append({
            "id": str(eid),
            "timestamp": int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000),
            "message": "Hello %s %s" % (etype, props)})
    return by_user


def _envelope(uid, events, message_type="DATA_MESSAGE"):
    return {
        "messageType": message_type,
        "owner": "123456789012",
        "logGroup": "/ex-aws-firehose",
        "logStream": "user-%d" % uid,
        "subscriptionFilters": ["ex-aws-firehose"],
        "logEvents": events,
    }


def _frame(envelope):
    raw = json.dumps(envelope, separators=(",", ":")).encode("utf-8")
    return gzip.compress(raw, compresslevel=6, mtime=0)


def make_records(events_by_user, seed, n_records, prefix):
    """Return a list of (recordId, data, expected_lines or None): one
    record per user envelope, the users in a seeded order, repeated
    in fresh seeded orders until there are `n_records`.

    expected_lines is None for a planted failure.
    """
    rng = random.Random(seed)
    users = sorted(events_by_user)
    order = []
    while len(order) < n_records:
        rnd = users[:]
        rng.shuffle(rnd)
        order += rnd
    out = []
    framed = {}
    for i, uid in enumerate(order[:n_records]):
        rid = "%s-%06d" % (prefix, i)
        events = events_by_user[uid]
        if i % 100 == CONTROL_AT:
            data = _frame(_envelope(uid, [], "CONTROL_MESSAGE"))
            out.append((rid, base64.b64encode(data).decode("ascii"), None))
            continue
        if uid not in framed:
            framed[uid] = _frame(_envelope(uid, events))
        data = framed[uid]
        if i % 100 == CORRUPT_AT:
            # a gzip stream cut mid-deflate: the decoder must reject it
            data = data[: len(data) // 2]
            out.append((rid, base64.b64encode(data).decode("ascii"), None))
            continue
        lines = [e["message"].replace("Hello", "Hell Yeah") for e in events]
        out.append((rid, base64.b64encode(data).decode("ascii"), lines))
    return out


def governed_size(rid, lines):
    """Bytes the size governor counts for a delivered record: the
    transformed payload's base64 length plus the recordId length."""
    payload = "".join(l + "\n" for l in lines).encode("utf-8")
    return len(base64.b64encode(payload)) + len(rid)


def write_record_files(records, directory, per_file):
    """Write JSON-lines files of `per_file` records, in record order."""
    os.makedirs(directory, exist_ok=True)
    for k in range(0, len(records), per_file):
        with open(os.path.join(directory, "part-%05d.json" % (k // per_file)), "w") as f:
            for rid, data, _ in records[k:k + per_file]:
                f.write(json.dumps({"recordId": rid, "data": data}) + "\n")


# ---- LLM batch tables -------------------------------------------------

def make_tables(directory, seed, n_docs=None):
    """Copy the committed `documents`/`embeddings` sample with both
    tables' rows in a seeded order. The content, and so the work, is
    the same for every seed. `n_docs` keeps only the first documents
    (by doc_id) for a smaller copy."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    os.makedirs(directory, exist_ok=True)
    rng = random.Random(seed)
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        t = pq.read_table(os.path.join(DATA, name + ".parquet"))
        if n_docs is not None and name == "documents":
            t = t.filter(pc.less(t[key], n_docs))
        order = list(range(t.num_rows))
        rng.shuffle(order)
        pq.write_table(t.take(order), os.path.join(directory, name + ".parquet"))
