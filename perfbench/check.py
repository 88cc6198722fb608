"""Output checks of a run, outside the timed window.

Entries with an oracle are replayed through DuckDB on the same generated
lake and compared with the canonical compare of `tools/oracle_check.py`
(columns by name, rows sorted, floats to 6 decimals). Rows-only entries must
return rows. The admission gates must keep their invariants."""
import collections
import glob
import importlib.util
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _oracle_check():
    path = os.path.join(os.path.dirname(HERE), "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_causes(work, rec):
    """Returns {op name: cause} for every read op whose first result is
    wrong: an oracle mismatch, an oracle error, or an empty rows-only
    result. The oracle queries are independent and run side by side."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    import pandas as pd
    oc = _oracle_check()
    out_dir = os.path.join(work, "out")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    lake = os.path.join(work, "input")
    for t in oc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
    first = {}
    for c in rec["calls"]:
        if c["kind"] == "read" and "rows" in c and c["name"] not in first:
            first[c["name"]] = c

    def cause(name):
        if name not in oracle:
            return "rows-only entry returned no rows" if first[name]["rows"] == 0 else None
        try:
            duck_df = con.cursor().execute(oracle[name]).fetchdf()
        except Exception as e:  # the oracle SQL itself failed
            return f"oracle error: {str(e)[:200]}"
        files = glob.glob(os.path.join(out_dir, "dumps", name, "*.parquet"))
        if not files:
            return f"oracle rows: spark=0 duck={len(duck_df)}" if len(duck_df) else None
        a = oc.canon(pd.concat([pd.read_parquet(f) for f in files]))
        b = oc.canon(duck_df)
        if list(a.columns) != list(b.columns):
            return f"oracle schema: spark={list(a.columns)} duck={list(b.columns)}"
        if len(a) != len(b):
            return f"oracle rows: spark={len(a)} duck={len(b)}"
        if not a.equals(b):
            return f"oracle values: {int((a != b).values.sum())} cells differ"
        return None

    names = sorted(first)
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(cause, names))
    return {n: c for n, c in zip(names, results) if c}


def gate_problems(rec, meta):
    """Checks each admission gate after its stream stopped: an exact copy of
    an indexed row is never admitted, and every admitted row lands once in
    the gate's table and once in the gate's index. Returns [(gate, problem)]."""
    import pyarrow.parquet as pq
    exact = {"docs": set(meta["exact_copy_doc_ids"]),
             "vecs": set(meta["exact_copy_vec_ids"])}
    out = []
    for g in rec.get("gates", []):
        id_col = "doc_id" if g["gate"] == "docs" else "vec_id"
        admitted = collections.Counter(
            pq.read_table(g["table"], columns=[id_col]).column(id_col).to_pylist()
            if os.path.exists(g["table"]) else [])
        index = pq.read_table(g["index"])
        ids = ([i for row in index.column("ids").to_pylist() for i in row]
               if "ids" in index.column_names else index.column(id_col).to_pylist())
        in_index = collections.Counter(i for i in ids if i in admitted)
        for problem, bad in (
                ("exact copies admitted", exact[g["gate"]] & admitted.keys()),
                ("admitted more than once in the table",
                 {i for i, n in admitted.items() if n != 1}),
                ("admitted rows not exactly once in the gate index",
                 {i for i in admitted if in_index[i] != 1})):
            if bad:
                out.append((g["gate"], f"{problem}: {','.join(map(str, sorted(bad)))}"))
    return out
