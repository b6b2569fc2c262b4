"""Seeded inputs for the benchmark: resampled rows of the test tables.

`data/sf0.01/` holds a copy of the repository's sf0.01 test tables, the
ones the DuckDB correctness gate runs on. The program never reads them:
each run writes a resampled copy, one Parquet file per table, and the
program sees only that directory. From the seed:
- `orders`, `events`, `documents` and `embeddings` keep each row with a
  workload's keep probability; `lineitem` keeps the lines of kept orders;
- event values are scaled by a factor in [0.95, 1.05] (rounded to cents)
  and embeddings get N(0, 0.01) noise per component;
- `region`, `nation`, `customer`, `supplier` and `part` are copied
  unchanged, so every foreign key still resolves.
Keys, date ranges, texts and value domains stay the test tables' own.

`properties.json` records what was measured on the written tables: row
counts, the Zipf skew of the skewed keys, the near-duplicate share of
`documents` and the event-days. Every table fits in memory at this size:
the largest, `lineitem`, has at most 60,000 rows.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# Two documents are near-duplicates when the Jaccard similarity of their
# word 3-shingle sets is at least this; in the test tables the pairs sit
# either above 0.9 or at 0.
NEAR_DUP_JACCARD = 0.5


def zipf_s(keys):
    """Least-squares slope of log frequency on log rank: P(k-th key) ∝ k^-s."""
    counts = np.sort(np.unique(np.asarray(keys), return_counts=True)[1])[::-1]
    rank = np.arange(1, len(counts) + 1)
    return float(-np.polyfit(np.log(rank), np.log(counts), 1)[0])


def near_dup_share(texts):
    """Share of documents with a near-duplicate elsewhere in the table."""
    def shingles(t):
        w = t.split(" ")
        return {tuple(w[i:i + 3]) for i in range(max(1, len(w) - 2))}
    sets = [shingles(t) for t in texts]
    dup = [False] * len(sets)
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            if inter and inter >= NEAR_DUP_JACCARD * (len(sets[i]) + len(sets[j]) - inter):
                dup[i] = dup[j] = True
    return sum(dup) / len(dup) if dup else 0.0


def generate(out_dir, seed, keep):
    """Write the resampled tables to `out_dir`; `keep` maps a table to the
    probability that one of its rows is kept. Returns the properties."""
    rng = np.random.default_rng(seed)
    t = {name: pq.read_table(os.path.join(SOURCE, f"{name}.parquet")) for name in TABLES}

    def sample(name):
        return t[name].filter(pa.array(rng.random(t[name].num_rows) < keep[name]))

    t["orders"] = sample("orders")
    t["lineitem"] = t["lineitem"].filter(pc.is_in(t["lineitem"]["l_orderkey"], t["orders"]["o_orderkey"]))
    events = sample("events")
    scale = rng.uniform(0.95, 1.05, events.num_rows)
    value = np.round(events["value"].to_numpy() * scale, 2)
    t["events"] = events.set_column(events.schema.get_field_index("value"), "value", pa.array(value))
    t["documents"] = sample("documents")
    emb = sample("embeddings")
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    vecs += rng.normal(0.0, 0.01, vecs.shape).astype(np.float32)
    t["embeddings"] = emb.set_column(emb.schema.get_field_index("embedding"), "embedding",
                                     pa.array(list(vecs), pa.list_(pa.float32())))

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    days = sorted(set(pc.strftime(t["events"]["ts"], "%Y%m%d").to_pylist()))
    props = {
        "seed": seed,
        "keep": keep,
        "rows": {k: v.num_rows for k, v in t.items()},
        "zipf_s": {"events.user_id": zipf_s(t["events"]["user_id"]),
                   "orders.o_custkey": zipf_s(t["orders"]["o_custkey"]),
                   "lineitem.l_partkey": zipf_s(t["lineitem"]["l_partkey"]),
                   "lineitem.l_suppkey": zipf_s(t["lineitem"]["l_suppkey"])},
        "documents_near_dup_share": near_dup_share(t["documents"]["text"].to_pylist()),
        "event_days": days,
        "fits_in_memory": True,
    }
    with open(os.path.join(out_dir, "properties.json"), "w") as f:
        json.dump(props, f, indent=1)
    return props
