"""Seeded per-run inputs, written before the harness starts its timers.

    python3 perfbench/prep.py <workload> <seed> <tier_dir> <inputs_dir>

migrate_validate: a defect twin of `orders` (about 0.5% of PKs dropped and
0.5% with o_orderpriority nulled; every twin row carries writetime 1) and
the counts the checks expect, in expect.tsv.
curate_llm: the documents plus exact copies of seeded originals under new
ids, the candidate pairs clustering starts from (each copy with its
original, plus seeded near-duplicate edges between documents) and every
document's expected cluster, the smallest id of its connected component
(clusters.tsv); seeded query vectors near seeded corpus vectors, and each
query's exact cosine top-10 (truth.tsv).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DROP, NULLED = 0.005, 0.005
SAMPLE_ROWS = 1000
DOC_DUPS = 50
DUP_ID_SHIFT = 1_000_000
NEAR_EDGES = 50
QUERIES = 4
QUERY_NOISE = 0.02
K = 10


def write_tsv(path, rows):
    with open(path, "w") as f:
        for row in rows:
            f.write("\t".join(str(x) for x in row) + "\n")


def migrate_validate(rng, tier, out):
    orders = pq.read_table(os.path.join(tier, "orders.parquet")).combine_chunks()
    draw = rng.random(orders.num_rows)
    drop = draw < DROP
    nulled = (draw >= DROP) & (draw < DROP + NULLED)
    priority = orders["o_orderpriority"].to_numpy(zero_copy_only=False).copy()
    priority[nulled] = None
    twin = (orders.set_column(orders.schema.get_field_index("o_orderpriority"),
                              "o_orderpriority", pa.array(priority, pa.string()))
            .filter(pa.array(~drop)))
    twin = twin.append_column("wt", pa.array(np.ones(twin.num_rows, dtype=np.int64)))
    pq.write_table(twin, os.path.join(out, "orders_twin.parquet"))
    first = np.argsort(orders["o_orderkey"].to_numpy(), kind="stable")[:SAMPLE_ROWS]
    rows = [("missing", int(drop.sum())), ("mismatch", int(nulled.sum())),
            ("sample_missing", int(drop[first].sum())),
            ("sample_mismatch", int(nulled[first].sum())),
            ("twin_rows", twin.num_rows)]
    for t in ("orders", "customer", "part", "supplier"):
        rows.append((f"rows_{t}", pq.read_metadata(os.path.join(tier, f"{t}.parquet")).num_rows))
    write_tsv(os.path.join(out, "expect.tsv"), rows)


def curate_llm(rng, tier, out):
    docs = pq.read_table(os.path.join(tier, "documents.parquet")).combine_chunks()
    picked = np.sort(rng.choice(docs.num_rows, DOC_DUPS, replace=False))
    dups = docs.take(pa.array(picked))
    dups = dups.set_column(0, "doc_id", pc.add(dups["doc_id"], DUP_ID_SHIFT))
    pq.write_table(pa.concat_tables([docs, dups]), os.path.join(out, "documents_dups.parquet"))
    ids = docs["doc_id"].to_numpy()
    near = rng.choice(ids, (NEAR_EDGES, 2))
    edges = np.concatenate([np.stack([dups["doc_id"].to_numpy(), ids[picked]], axis=1), near])
    pq.write_table(pa.table({"a": edges[:, 0], "b": edges[:, 1]}),
                   os.path.join(out, "pairs.parquet"))
    # connected components by union-find, each labelled by its smallest id
    parent = {int(i): int(i) for i in np.concatenate([ids, dups["doc_id"].to_numpy()])}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges.tolist():
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    write_tsv(os.path.join(out, "clusters.tsv"), ((d, find(d)) for d in sorted(parent)))

    emb = pq.read_table(os.path.join(tier, "embeddings.parquet"))
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    base = vecs[rng.integers(0, len(vecs), QUERIES)]
    q = base + rng.normal(0.0, QUERY_NOISE, base.shape)
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({"vec_id": np.arange(QUERIES, dtype=np.int64),
                             "embedding": pa.array(list(q), type=pa.list_(pa.float32()))}),
                   os.path.join(out, "queries.parquet"))
    # exact top-K by cosine, ties to the lower id, as LlmOps.cosineTopK orders
    ids = emb["vec_id"].to_numpy()
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ q.astype(np.float64).T
    write_tsv(os.path.join(out, "truth.tsv"),
              [[i] + list(ids[np.lexsort((ids, -cos[:, i]))[:K]]) for i in range(QUERIES)])
    write_tsv(os.path.join(out, "sizes.tsv"),
              [("docs", docs.num_rows + DOC_DUPS), ("vecs", emb.num_rows), ("queries", QUERIES)])


def main():
    workload, seed, tier, out = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "migrate_validate":
        migrate_validate(rng, tier, out)
    elif workload == "curate_llm":
        curate_llm(rng, tier, out)


if __name__ == "__main__":
    main()
