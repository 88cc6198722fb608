"""Seeded input generator for the graft benchmark.

The generated lake is a key-consistent relabelling of the base lake in
`perfbench/base/`: every id domain (customers, orders, parts, suppliers,
documents, vectors, events, users) is mapped through a seeded permutation of
its own values, and every table's row order is shuffled. Join keys stay
consistent across tables, so every query keeps its meaning, while the bytes
the engine reads change with the seed. Text is left untransformed: the
language-id and quality rules read real word shapes.

When asked for admission micro-batches, the generator also holds rows out of
the corpus and builds the batches from them (see `ingest_batches`).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# each id domain as the (table, column) pairs that carry it
ID_DOMAINS = [
    [("customer", "c_custkey"), ("orders", "o_custkey")],
    [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    [("part", "p_partkey"), ("lineitem", "l_partkey")],
    [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    [("documents", "doc_id")],
    [("embeddings", "vec_id")],
    [("events", "event_id")],
    [("events", "user_id")],
]

# Admission batches: the make-up of each batch. NOVEL rows come from the
# held-out corpus rows, NEAR are near-copies of indexed rows (one token
# dropped / small vector noise) and EXACT are exact copies of indexed rows
# under fresh ids. Near-duplicate share = (NEAR + EXACT) / BATCH_ROWS.
NOVEL, NEAR, EXACT = 4, 2, 1
BATCH_ROWS = NOVEL + NEAR + EXACT


def _relabel(tables, rng):
    for doms in ID_DOMAINS:
        values = np.unique(np.concatenate(
            [tables[t].column(c).to_numpy() for t, c in doms]))
        mapped = values[rng.permutation(len(values))]
        for t, c in doms:
            col = tables[t].column(c)
            idx = np.searchsorted(values, col.to_numpy())
            new = pa.array(mapped[idx], type=col.type)
            i = tables[t].schema.get_field_index(c)
            tables[t] = tables[t].set_column(i, tables[t].schema.field(i), new)


def _shuffle(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def ingest_batches(docs, vecs, batches, rng):
    """Split batches * NOVEL documents and vectors off the corpus and build
    the admission batches. Returns (docs, vecs, doc_batches, vec_batches,
    expect) where the first two are the corpus tables that stay in the lake
    and `expect` names the exact copies the gates must never admit."""
    held = batches * NOVEL
    held_d, held_v = docs.slice(0, held), vecs.slice(0, held)
    docs, vecs = docs.slice(held), vecs.slice(held)
    next_doc = int(pc.max(docs.column("doc_id")).as_py()) + 10**6
    next_vec = int(pc.max(vecs.column("vec_id")).as_py()) + 10**6
    texts = docs.column("text").to_pylist()
    embs = vecs.column("embedding").to_pylist()
    held_texts = held_d.column("text").to_pylist()
    held_embs = held_v.column("embedding").to_pylist()
    doc_batches, vec_batches = [], []
    exact_docs, exact_vecs = [], []
    for b in range(batches):
        d_ids = held_d.column("doc_id").to_pylist()[b * NOVEL:(b + 1) * NOVEL]
        v_ids = held_v.column("vec_id").to_pylist()[b * NOVEL:(b + 1) * NOVEL]
        d_txt = held_texts[b * NOVEL:(b + 1) * NOVEL]
        v_emb = held_embs[b * NOVEL:(b + 1) * NOVEL]
        for _ in range(NEAR):
            src = texts[rng.integers(len(texts))].split()
            del src[rng.integers(len(src))]
            d_ids.append(next_doc); next_doc += 1
            d_txt.append(" ".join(src))
            v = np.asarray(embs[rng.integers(len(embs))], dtype=np.float32)
            v_ids.append(next_vec); next_vec += 1
            v_emb.append((v + rng.normal(0, 1e-3, v.shape)).astype(np.float32).tolist())
        for _ in range(EXACT):
            d_ids.append(next_doc); exact_docs.append(next_doc); next_doc += 1
            d_txt.append(texts[rng.integers(len(texts))])
            v_ids.append(next_vec); exact_vecs.append(next_vec); next_vec += 1
            v_emb.append(embs[rng.integers(len(embs))])
        order = rng.permutation(BATCH_ROWS)
        doc_batches.append(pa.table({
            "doc_id": pa.array([d_ids[i] for i in order], pa.int64()),
            "text": pa.array([d_txt[i] for i in order], pa.string())}))
        vec_batches.append(pa.table({
            "vec_id": pa.array([v_ids[i] for i in order], pa.int64()),
            "embedding": pa.array([v_emb[i] for i in order], pa.list_(pa.float32()))}))
    expect = {"exact_copy_doc_ids": exact_docs, "exact_copy_vec_ids": exact_vecs}
    return docs, vecs, doc_batches, vec_batches, expect


def generate(out_dir, seed, batches=0, base=BASE):
    """Write the lake to `out_dir/input/`, `batches` admission batches per
    gate to `out_dir/ingest/`, and `out_dir/input.json` with the input byte
    count. Returns the metadata dict."""
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(os.path.join(base, f"{t}.parquet")) for t in TABLES}
    _relabel(tables, rng)
    tables = {t: _shuffle(tab, rng) for t, tab in tables.items()}
    meta = {"seed": seed, "batches": batches,
            "exact_copy_doc_ids": [], "exact_copy_vec_ids": []}
    if batches:
        docs, vecs, db, vb, expect = ingest_batches(
            tables["documents"], tables["embeddings"], batches, rng)
        tables["documents"], tables["embeddings"] = docs, vecs
        os.makedirs(os.path.join(out_dir, "ingest"))
        for i, (d, v) in enumerate(zip(db, vb)):
            pq.write_table(d, os.path.join(out_dir, "ingest", f"docs_{i:03d}.parquet"))
            pq.write_table(v, os.path.join(out_dir, "ingest", f"vecs_{i:03d}.parquet"))
        meta.update(expect, batch_rows=BATCH_ROWS,
                    near_dup_share=(NEAR + EXACT) / BATCH_ROWS)
    lake = os.path.join(out_dir, "input")
    os.makedirs(lake)
    for t, tab in tables.items():
        pq.write_table(tab, os.path.join(lake, f"{t}.parquet"))
    meta["input_bytes"] = sum(os.path.getsize(os.path.join(lake, f))
                              for f in os.listdir(lake))
    with open(os.path.join(out_dir, "input.json"), "w") as f:
        json.dump(meta, f)
    return meta
