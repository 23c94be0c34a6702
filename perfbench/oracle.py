"""Output checks: every operation's result against DuckDB.

perfbench.Main writes, for each distinct query and lake state, the
expected-answer SQL (graft's own oracle shapes: Bm25Index.oracleSql,
Similarity.knnSql, SparkEntry.oracleSql) and the parquet files each
view reads. DuckDB answers it independently of Spark; an operation
whose rows differ, or that threw, counts as failed.
"""
import glob
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def expected_answers(out):
    """key -> DuckDB result DataFrame (or the error text)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    answers = {}
    for o in read_jsonl(os.path.join(out, "oracle.jsonl")):
        for view, files in o["tables"].items():
            flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
            con.execute(f"CREATE OR REPLACE VIEW {view} AS "
                        f"SELECT * FROM read_parquet([{flist}])")
        try:
            answers[o["key"]] = con.execute(o["sql"]).fetchdf()
        except Exception as e:  # an oracle error fails its operations
            answers[o["key"]] = f"duckdb error: {e}"
    con.close()
    return answers


def same_cell(got, want):
    """Exact equality of one search-result cell (ids, names, scores)."""
    if want is None or (isinstance(want, float) and pd.isna(want)):
        return got is None
    if isinstance(want, float) or isinstance(got, float):
        return got is not None and float(got) == float(want)
    return got == want


def same_rows(got, want):
    """Ordered row-by-row comparison of JSON rows with a DuckDB frame."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want.itertuples(index=False)):
        if len(g) != len(w) or not all(same_cell(a, b) for a, b in zip(g, w)):
            return False
    return True


def norm(df):
    """check_oracle.py's order-insensitive normal form."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_table(got, want):
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g, w = norm(got), norm(want)
    return (w.astype(object).where(pd.notnull(w), None)
            .equals(g.astype(object).where(pd.notnull(g), None)))


def check(workload, out):
    """op id -> (ok, reason) for every recorded operation."""
    answers = expected_answers(out)
    res = {}
    for op in read_jsonl(os.path.join(out, "ops.jsonl")):
        oid = op["op"]
        if "error" in op:
            res[oid] = (False, op["error"])
            continue
        key = op["check"]
        if not key:  # writes, index builds, compaction: no rows to check
            res[oid] = (True, "")
            continue
        want = answers.get(key)
        if want is None:
            res[oid] = (False, f"no oracle for {key}")
        elif isinstance(want, str):
            res[oid] = (False, want)
        elif workload == "pipeline_batch":
            d = os.path.join(out, "steps",
                             f"{op['phase']}.p{op['pass']}.{op['name']}")
            files = glob.glob(os.path.join(d, "*.parquet"))
            got = (pd.concat([pq.read_table(f).to_pandas() for f in files],
                             ignore_index=True) if files else None)
            ok = got is not None and same_table(got, want)
            res[oid] = (ok, "" if ok else f"{op['name']}: output differs")
        else:
            ok = same_rows(op["rows"], want)
            res[oid] = (ok, "" if ok else
                        f"{op['name']} {key}: got {op['rows'][:3]} "
                        f"want {want.head(3).values.tolist()}")
    return res
