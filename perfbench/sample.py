#!/usr/bin/env python3
"""Build the benchmark's committed data sample from an sf0.1 directory.

    python3 perfbench/sample.py <sf0.1 dir> [--stats]

Writes `perfbench/data/{documents,embeddings,events}.parquet`:

- `documents`: the first DOCS rows of sf0.1 `documents`. A prefix keeps
  every near-duplicate next to its source (a near-duplicate copies an
  earlier row), which a random sample would split.
- `embeddings`: the first VECS rows of sf0.1 `embeddings`.
- `events`: every event of the first USERS users of sf0.1 `events`, so
  each user's CloudWatch Logs envelope is whole.

The rows are copied unchanged; a run's seed only permutes them (see
gen.py). `--stats` prints the sample's shape beside the full table's,
as recorded in METRICS.md.
"""
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

DOCS, VECS, USERS = 1000, 600, 240
HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")


def sample(sf_dir):
    os.makedirs(DATA, exist_ok=True)
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(docs.sort_by("doc_id").slice(0, DOCS), os.path.join(DATA, "documents.parquet"))
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(emb.sort_by("vec_id").slice(0, VECS), os.path.join(DATA, "embeddings.parquet"))
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ev = ev.filter(pc.less(ev["user_id"], USERS)).sort_by("event_id")
    pq.write_table(ev, os.path.join(DATA, "events.parquet"))


def _q(xs):
    import statistics
    q = statistics.quantiles(xs, n=4)
    return "min %d, quartiles %.0f/%.0f/%.0f, max %d, mean %.1f" % (
        min(xs), q[0], q[1], q[2], max(xs), statistics.fmean(xs))


def stats(path):
    """One line per table: rows and the distributions the workloads
    depend on."""
    import collections
    d = pq.read_table(os.path.join(path, "documents.parquet")).to_pandas()
    toks = [len(t.split()) for t in d.text]
    langs = collections.Counter(d.lang)
    print("documents: %d rows; tokens %s; vocabulary %d words; near-duplicates "
          "(`... dup`) %.1f%%; exact duplicates %d; %d sources; languages %s" % (
              len(d), _q(toks), len({w for t in d.text for w in t.split()}),
              100.0 * d.text.str.endswith(" dup").sum() / len(d), d.text.duplicated().sum(),
              d.source.nunique(),
              ", ".join("%s %.0f%%" % (k, 100.0 * v / len(d)) for k, v in langs.most_common())))
    e = pq.read_table(os.path.join(path, "embeddings.parquet")).to_pandas()
    print("embeddings: %d rows; %d dims; %d labels" % (
        len(e), len(e.embedding.iloc[0]), e.label.nunique()))
    v = pq.read_table(os.path.join(path, "events.parquet")).to_pandas()
    per_user = v.groupby("user_id").size().tolist()
    types = collections.Counter(v.event_type)
    print("events: %d rows, %d users; events per user %s; props chars %s; types %s" % (
        len(v), len(per_user), _q(per_user), _q(v.props.str.len().tolist()),
        ", ".join("%s %.0f%%" % (k, 100.0 * n / len(v)) for k, n in types.most_common())))


def main():
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sample(sys.argv[1])
    if "--stats" in sys.argv:
        print("== sf0.1")
        stats(sys.argv[1])
        print("== sample")
        stats(DATA)
    return 0


if __name__ == "__main__":
    sys.exit(main())
