"""Seeded input generation for the benchmark.

Everything the engine reads during a run is made here from the run's
seed: the star-schema tables the registered queries scan, SEC-shaped
quarter ZIPs, the serving request stream and the upsert feed. The same
seed gives byte-identical inputs; the engine only ever sees the files.

Sizes (and why). Every run pays a JVM start, a cold warm pass and its
timed passes, and the benchmark's whole schedule has to fit a fixed
time, so inputs are as small as keeps each layer's work visible:
  * SEC_SUBS = 150 submissions and exactly SEC_FACTS = 20000 facts per
    quarter, two quarters, spread with a Zipf(1.6) skew (capped) so ten
    filers own 55-70% of the facts; real quarters have a few thousand
    filers and a handful with tens of thousands of facts each. A pass
    runs 85 Spark jobs at any size; the executors' task time per pass
    grows with the rows (measured at 10000 to 120000 facts in
    perfbench/README.md). 20000 is the largest size at which a whole
    benchmark schedule still fits its time. The per-filer sizes are
    the same for every seed, so seeds differ in values and in which
    filer is large, not in size or skew.
  * SERVE_SUBS = 100 / SERVE_FACTS = 4000 for the one quarter serve
    persists: statement responses stay under the API's 10000-row cap,
    so each can be compared whole.
  * UPSERT_KEYS = 4000 keys over UPSERT_WAVES = 3 waves: every wave
    after the first is a copy-on-write merge, and retention (two
    snapshots) vacuums one.
  * SERVE_MIX: 44 requests per pass with fixed per-route counts, so a
    pass is the same work for every seed (~8 s on 4 cores).
  * TABLE_SF = 0.02 for the star schema (120k lineitem rows) read by
    the ungated batch_sweep / stream_cdc workloads: their per-job
    overhead is flat below sf0.1, so a pass stays near 10 s.
"""

import io
import json
import os
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SF = 0.02
SEC_SUBS = 150
SEC_FACTS = 20000
SEC_QUARTERS = ("2023Q3", "2023Q4")
SERVE_SUBS = 100
SERVE_FACTS = 4000
UPSERT_KEYS = 4000
UPSERT_WAVES = 3

_WORDS = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window data column join small order "
          "customer query big filter group stream vector me").split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)


def rng_for(seed, stream):
    """An independent generator per (seed, input stream)."""
    return np.random.default_rng([int(seed), _stream_id(stream)])


def _stream_id(name):
    return sum((i + 1) * ord(c) for i, c in enumerate(name))


def _write_parquet(df, path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   coerce_timestamps="us")


def _ts(base, seconds):
    return pd.Timestamp(base) + pd.to_timedelta(seconds, unit="s")


def tables(out_dir, seed, sf=TABLE_SF):
    """The ten star-schema tables, with the same columns, types and value
    domains the registered queries and their DuckDB oracles expect."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "tables")
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users = int(1000000 * sf), max(150, int(15000 * sf))
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write_parquet(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write_parquet(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write_parquet(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write_parquet(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")
    adj = np.array("small red blue green large tiny old new".split())
    noun = np.array("ring widget bolt gear nut screw plate valve".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write_parquet(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out_dir}/part.parquet")
    odate = _ts("1995-01-01", r.integers(0, 2404, n_ord) * 86400)
    _write_parquet(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")
    okey = r.integers(0, n_ord, n_line).astype(np.int64)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    flags = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")])
    fl = flags[r.integers(0, 6, n_line)]
    _write_parquet(pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": _ts("1995-01-02", r.integers(0, 2498, n_line) * 86400)}),
        f"{out_dir}/lineitem.parquet")
    ev_secs = np.sort(r.uniform(0, 30 * 86400, n_ev))
    _write_parquet(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(
            np.round(ev_secs * 1e6).astype(np.int64), unit="us"),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")
    texts = []
    for _ in range(n_docs):
        if texts and r.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(r.integers(0, len(texts)))].split()
            for j in r.integers(0, len(words), 2):
                words[j] = _WORDS[int(r.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(np.array(_WORDS)[r.integers(0, len(_WORDS),
                                                               int(r.integers(8, 90)))]))
    _write_parquet(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, n_docs, p=_LANG_P)],
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 0.15, (10, 64))
    emb = (centers[labels] + r.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    _write_parquet(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": labels.astype(np.int32)}),
        f"{out_dir}/embeddings.parquet")


# --------------------------------------------------------------------
# SEC-shaped quarters (FIXTURES.md §A schemas and dirty-data traits)

SUB_COLS = ("adsh cik name sic countryba stprba cityba zipba bas1 bas2 baph "
            "countryma stprma cityma zipma mas1 mas2 countryinc stprinc ein "
            "former changed afs wksi fye form period fy fp filed accepted "
            "prevrpt detail instance nciks aciks").split()
NUM_COLS = "adsh tag version ddate qtrs uom segments coreg value footnote".split()
PRE_COLS = "adsh report line stmt inpth rfile tag version plabel negating".split()
TAG_COLS = "tag version custom abstract datatype iord crdr tlabel doc".split()

_STMTS = ("BS", "IS", "IC", "CF", "EQ", "CI")
_STMT_P = (0.34, 0.18, 0.08, 0.25, 0.10, 0.05)


def _tsv(cols, rows):
    out = io.StringIO()
    out.write("\t".join(cols) + "\n")
    for row in rows:
        out.write("\t".join("" if v is None else str(v) for v in row) + "\n")
    return out.getvalue().encode("utf-8")


def _skewed_sizes(r, n, total):
    """n sizes summing exactly to total, Zipf-skewed, each at least 4."""
    w = np.minimum(r.zipf(1.6, n), 150).astype(float)
    sizes = np.maximum((w / w.sum() * total).astype(int), 4)
    sizes[np.argmax(sizes)] += total - sizes.sum()
    return sizes


def sec_quarters(out_dir, seed, quarters=SEC_QUARTERS, subs=SEC_SUBS,
                 facts=SEC_FACTS):
    """One ZIP of sub/num/pre/tag TSVs per quarter plus a headerless
    ticker file. Returns the row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "sec")
    n_ciks = subs * 2
    ciks = np.arange(1000, 1000 + n_ciks)
    n_tags = 300
    tag_names = [f"Tag{i:04d}" for i in range(n_tags)]
    counts = {"sub": 0, "num": 0, "pre": 0, "tag": 0}
    with open(f"{out_dir}/ticker.txt", "w") as f:
        for i, c in enumerate(ciks[: int(n_ciks * 0.8)]):
            f.write(f"T{i:05d}\t{c}\n")
            if i % 50 == 0:  # some ciks carry two symbols
                f.write(f"U{i:05d}\t{c}\n")
    for qi, quarter in enumerate(quarters):
        year, q = int(quarter[:4]), int(quarter[-1])
        period = year * 10000 + (q * 3) * 100 + 30
        sub_rows, num_rows, pre_rows = [], [], []
        # Zipf-skewed facts per submission: a few filers own most facts.
        # The sizes are the same for every seed (the seed only decides
        # which filer gets which), so seeds differ in values, not in skew.
        sizes = r.permutation(_skewed_sizes(rng_for(qi, "sec-sizes"), subs, facts))
        for s in range(subs):
            adsh = f"{year:04d}{q}-{qi:02d}-{s:06d}"
            cik = int(ciks[(s * 7 + qi) % n_ciks])
            fye = None if s % 97 == 0 else (1231 if s % 13 else 930)  # 3-digit fye
            sub_rows.append((
                adsh, cik, f"Company {cik} Inc", 100 + s % 8900 if s % 41 else 731,
                None if s % 53 == 0 else "US", "CA", None if s % 59 == 0 else "City",
                "94000", "1 Main St", None, "555", "US", "CA", "City", "94000",
                "1 Main St", None, None if s % 61 == 0 else "US", "DE",
                123456789 if s % 71 else 1234567890, None, None,
                ("1-LAF", "2-ACC", "4-NON", "3-SRA", "5-SML")[s % 5], s % 2, fye,
                "10-Q" if s % 4 else "10-K", period if s % 89 else "NaN",
                None if s % 67 == 0 else year, None if s % 73 == 0 else f"Q{q}",
                period + 15, f"{year}-{q * 3:02d}-15 16:05:{s % 60:02d}.0", 0, 0,
                f"inst{s}.xml", 1, None))
            stmts = r.choice(len(_STMTS), sizes[s], p=_STMT_P)
            tags = r.integers(0, n_tags, sizes[s])
            for line, (ti, si) in enumerate(zip(tags, stmts)):
                tag, stmt = tag_names[ti], _STMTS[si]
                pre_rows.append((adsh, 2 + si, line + 1, stmt, 0, "H", tag,
                                 "us-gaap/2023", None if line % 29 == 0 else f"Label {tag}",
                                 0))
                val = "NaN" if line % 101 == 7 else f"{r.integers(-10**9, 10**10) / 100:.2f}"
                qtrs = 0 if stmt == "BS" else (1 if line % 3 else 4)
                ddate = period if line % 5 else period - 10000
                num_rows.append((adsh, tag, "us-gaap/2023", ddate, qtrs, "USD",
                                 None, None, val, None))
                if line % 37 == 0:  # duplicate fact rows under one adsh
                    num_rows.append(num_rows[-1])
        tag_rows = [(t, "us-gaap/2023", 0, 0, ("monetary", "shares", "perShare")[i % 3],
                     "I" if i % 2 else "D", "C" if i % 3 else "D", f"TL {t}", f"Doc {t}")
                    for i, t in enumerate(tag_names)]
        tag_rows += tag_rows[:5]  # duplicate tag rows
        with zipfile.ZipFile(f"{out_dir}/{quarter}.zip", "w",
                             zipfile.ZIP_DEFLATED) as z:
            for name, cols, rows in (("sub.txt", SUB_COLS, sub_rows),
                                     ("num.txt", NUM_COLS, num_rows),
                                     ("pre.txt", PRE_COLS, pre_rows),
                                     ("tag.txt", TAG_COLS, tag_rows)):
                info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                z.writestr(info, _tsv(cols, rows))
        counts["sub"] += len(sub_rows)
        counts["num"] += len(num_rows)
        counts["pre"] += len(pre_rows)
        counts["tag"] += len(tag_rows)
    return counts


# --------------------------------------------------------------------
# Upsert feed and serving request stream

def upsert_feed(out_dir, seed, keys=UPSERT_KEYS, waves=UPSERT_WAVES):
    """JSON-lines wave files (doc_id, ts, text, source) for the upsert
    table: every wave rewrites a random half of the keys with a later
    ts. Returns the expected final table {doc_id: (ts, text)}."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "upsert")
    final = {}
    for w in range(waves):
        ids = np.arange(keys) if w == 0 else np.sort(
            r.choice(keys, keys // 2, replace=False))
        with open(f"{out_dir}/wave-{w:02d}.json", "w") as f:
            for k in ids:
                k = int(k)
                secs = w * 86400 + int(r.integers(0, 86400))
                ts = f"2024-02-{1 + secs // 86400:02d}T{secs % 86400 // 3600:02d}:" \
                     f"{secs % 3600 // 60:02d}:{secs % 60:02d}.000Z"
                text = " ".join(_WORDS[int(i)] for i in r.integers(0, len(_WORDS), 3))
                f.write(json.dumps({"doc_id": k, "ts": ts, "text": text,
                                    "source": f"w{w}"}) + "\n")
                final[k] = (ts, text)
    return final


# Requests of one serve pass by route: exact counts, so every seed puts
# the same work in a pass and seeds differ only in keys, variants and
# order. The shares are the intended mix to the nearest request that
# still reads every source x statement pair once: 50% lookups, 20.5%
# statement reads, 15.9% SQL, 9.1% snapshots, 4.5% availability and
# table-info (aimed at 50 / 20 / 15 / 10 / 5).
SERVE_MIX = (("table-lookup", 22), ("get-financial-data", 9),
             ("execute-custom-query", 7), ("table-snapshot", 4),
             ("check-availability", 1), ("get-table-info", 1))
_SOURCES = ("RAW", "FACT TABLES", "JSON")
_DATA_TYPES = ("Balance Sheet", "Income Statement", "Cash Flow")


def serve_requests(seed, passes=1, keys=UPSERT_KEYS, quarter=SEC_QUARTERS[-1]):
    """The seeded request stream, `passes` times SERVE_MIX: point
    lookups on Zipf-skewed keys with 10% absent, statement reads over
    every source x statement pair, aggregate SQL over each statement in
    turn, snapshot reads and availability / table-info probes, in a
    seeded order. The seed picks the keys and the order; which requests
    a pass holds is the same for every seed."""
    r = rng_for(seed, "serve")
    year, q = quarter[:4], quarter[-1]
    out = []
    for route, count in SERVE_MIX:
        for i in range(count * passes):
            req = {"route": route, "class": "other"}
            if route == "table-lookup":
                if i % 10 == 9:
                    key = keys + int(r.integers(0, keys))  # absent
                else:
                    key = (int(min(r.zipf(1.2), keys) - 1) * 2654435761 + int(seed)) % keys
                req.update({"class": "lookup", "key": int(key)})
            elif route == "get-financial-data":
                req.update({"class": "stmt", "source": _SOURCES[i % 3],
                            "data_type": _DATA_TYPES[i // 3 % 3], "year": year, "quarter": q})
            elif route == "execute-custom-query":
                stmt = ("BS", "CF", "IS")[i % 3]
                req.update({"class": "stmt",
                            "query": f"SELECT p.stmt, count(*) AS n, "
                                     f"sum(n.value) AS total FROM sec_num_{quarter} n "
                                     f"JOIN sec_pre_{quarter} p ON n.adsh = p.adsh "
                                     f"AND n.tag = p.tag WHERE p.stmt = '{stmt}' "
                                     f"GROUP BY p.stmt"})
            elif route == "check-availability":
                req.update({"year": year, "quarter": q})
            elif route == "get-table-info":
                req.update({"data_source": ("RAW", "FACT TABLES")[i % 2],
                            "year": year, "quarter": q})
            out.append(req)
    return [out[int(j)] for j in r.permutation(len(out))]
