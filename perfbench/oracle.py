"""Untimed correctness checks against DuckDB over the generated inputs."""

import glob
import json
import os
import zipfile

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_queries(tables_dir, check_dir):
    """Each query's Spark output (written by the warm pass) against its
    registered oracle SQL. Returns {query: error or None}."""
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    out = {}
    for name in sorted(os.listdir(check_dir)):
        if not os.path.isdir(f"{check_dir}/{name}"):
            continue
        if name not in oracle:
            out[name] = "no oracle SQL registered"
            continue
        try:
            files = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
            a = _normalize(pd.concat([pd.read_parquet(f) for f in files]))
            b = _normalize(con.execute(oracle[name]).fetchdf())
            if list(a.columns) != list(b.columns):
                out[name] = f"columns spark={list(a.columns)} duckdb={list(b.columns)}"
            elif len(a) != len(b):
                out[name] = f"rows spark={len(a)} duckdb={len(b)}"
            elif not a.equals(b):
                neq = (a != b) & ~(a.isna() & b.isna())
                out[name] = f"values differ in {[c for c in a.columns if neq[c].any()]}"
            else:
                out[name] = None
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    return out


_FACT_SQL = """
WITH n AS (
  SELECT nullif(adsh, '') AS adsh, nullif(tag, '') AS tag,
         TRY_CAST(ddate AS INTEGER) AS ddate, TRY_CAST(qtrs AS BIGINT) AS qtrs,
         nullif(uom, '') AS uom, TRY_CAST("value" AS DECIMAL(38,10)) AS v FROM num),
s AS (
  SELECT nullif(adsh, '') AS adsh, TRY_CAST(cik AS BIGINT) AS cik,
         nullif("name", '') AS company, TRY_CAST(filed AS BIGINT) AS filed,
         TRY_CAST(fy AS BIGINT) AS fy, nullif(fp, '') AS fp FROM sub),
p AS (SELECT nullif(adsh, '') AS adsh, nullif(tag, '') AS tag, nullif(stmt, '') AS stmt,
             nullif(plabel, '') AS plabel FROM pre)
SELECT n.adsh, s.cik, s.company AS company_name, s.filed AS filing_date,
       s.fy AS fiscal_year, s.fp AS fiscal_period, n.tag, n.uom AS unit_of_measure,
       n.ddate AS report_date, n.qtrs, p.stmt AS statement_type, p.plabel,
       sum(n.v) AS total_value
FROM n JOIN s ON n.adsh = s.adsh JOIN p ON n.adsh = p.adsh AND n.tag = p.tag
WHERE p.stmt IN ('BS', 'IS', 'CF')
GROUP BY ALL
"""

_FACT_COLS = ("adsh, cik, company_name, filing_date, fiscal_year, fiscal_period, tag, "
              "unit_of_measure, report_date, qtrs, statement_type, plabel, total_value")


def check_sec_facts(sec_dir, facts_dir, scratch):
    """The pipeline's BS/IS/CF fact tables against DuckDB over the TSVs
    inside the quarter ZIPs. Returns {table: error or None}."""
    os.makedirs(scratch, exist_ok=True)
    con = _connect()
    for entry in ("sub", "num", "pre"):
        paths = []
        for z in sorted(glob.glob(f"{sec_dir}/*.zip")):
            p = f"{scratch}/{os.path.basename(z)[:-4]}_{entry}.txt"
            with zipfile.ZipFile(z) as zf, open(p, "wb") as f:
                f.write(zf.read(f"{entry}.txt"))
            paths.append(p)
        con.execute(f"CREATE TABLE {entry} AS SELECT * FROM read_csv({paths!r}, delim='\t', "
                    f"header=true, all_varchar=true, quote='', escape='')")
    out = {}
    try:  # the join runs once for all three statements
        con.execute(f"CREATE TABLE oracle_all AS {_FACT_SQL}")
    except Exception as e:
        return {stmt: f"{type(e).__name__}: {e}" for stmt in ("bs", "is", "cf")}
    for stmt in ("bs", "is", "cf"):
        try:  # tables, not views: each side is read three times below
            con.execute(f"CREATE OR REPLACE TABLE oracle AS SELECT * FROM oracle_all "
                        f"WHERE statement_type = '{stmt.upper()}'")
            con.execute(f"CREATE OR REPLACE TABLE spark AS SELECT {_FACT_COLS} "
                        f"FROM read_parquet('{facts_dir}/{stmt}/*.parquet')")
            n_spark, n_oracle = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                                 for v in ("spark", "oracle"))
            diff = con.execute(
                f"SELECT count(*) FROM ((SELECT {_FACT_COLS} FROM spark EXCEPT ALL "
                f"SELECT {_FACT_COLS} FROM oracle) UNION ALL (SELECT {_FACT_COLS} FROM oracle "
                f"EXCEPT ALL SELECT {_FACT_COLS} FROM spark))").fetchone()[0]
            out[stmt] = None if diff == 0 and n_oracle > 0 else \
                f"{diff} rows differ (spark={n_spark}, duckdb={n_oracle})"
        except Exception as e:
            out[stmt] = f"{type(e).__name__}: {e}"
    return out


def check_upsert_table(snapshot_dir, expected):
    """The served upsert snapshot against the feed's last write per key.
    Returns an error or None."""
    got = _connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{snapshot_dir}/*.parquet')").fetchall()
    want = {k: text for k, (_, text) in expected.items()}
    if len(got) != len(want):
        return f"snapshot has {len(got)} rows, feed has {len(want)} keys"
    bad = sum(1 for k, text in got if want.get(k) != text)
    return f"{bad} keys do not hold their latest write" if bad else None
