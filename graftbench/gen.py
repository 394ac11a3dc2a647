"""Seeded input generator for the graft benchmark.

Every input is a pure function of its arguments: the same seed and sizes
give byte-identical files. Three kinds of input are made here:

* ``tables``: the TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings`` that the ``SparkEntry`` queries read, one parquet file per
  table, with the column types and value domains of the engine's fixture
  data at scale factor ``sf`` (sf 0.1 = 600k lineitem rows).
* ``hourly tree``: hours of the month-long ``events`` table exported as
  hive-partitioned TSV (``year=/month=/day=/hour=``, three files per hour, no
  header, tab-separated, no quoting), the reference's input contract.
* ``bulk tree``: large synthetic hours of the ``events_raw`` landing schema
  (event_ts, device_id, event_type, payload, bytes), several files per hour.

Each writer returns the per-hour manifest entries ``{"id", "rows", "bytes"}``
the benchmark checks landed data against.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

MONTH_START = np.datetime64("2024-01-01T00:00:00", "us")
HOURS_IN_MONTH = 720
HOUR_US = 3600 * 10**6
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _ts_strings(us):
    """Timestamp text as the TSV contract writes it: 'YYYY-MM-DD HH:MM:SS.ffffff'."""
    return pc.strftime(pa.array(us.astype("datetime64[us]")), format="%Y-%m-%d %H:%M:%S")


def hour_id(hour_index):
    """YYYYMMDDHH of the month's hour number ``hour_index``."""
    t = (MONTH_START + np.timedelta64(int(hour_index), "h")).astype(object)
    return t.strftime("%Y%m%d%H")


def hive_dir(base, hid):
    return os.path.join(base, f"year={hid[0:4]}", f"month={hid[4:6]}",
                        f"day={hid[6:8]}", f"hour={hid[8:10]}")


def events(sf, data_seed=42):
    """The month-long events table: ~139 rows per hour at sf 0.1."""
    rng = np.random.default_rng(data_seed)
    n = int(round(1_000_000 * sf))
    offs = np.sort(rng.integers(0, HOURS_IN_MONTH * HOUR_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(MONTH_START + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 560, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_hourly_tree(ev, base, hour_indexes, files_per_hour=3):
    """Export the given hours of ``ev`` as hive-partitioned TSV."""
    ts_us = ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) \
        - MONTH_START.astype(np.int64)
    hour_of_row = ts_us // HOUR_US
    ts_text = _ts_strings(ev["ts"].to_numpy()).to_pylist()
    cols = [ev[c].to_pylist() for c in ("event_id", "user_id", "event_type", "value", "props")]
    out = []
    for hi in hour_indexes:
        rows = np.nonzero(hour_of_row == hi)[0]
        hid = hour_id(hi)
        d = hive_dir(base, hid)
        os.makedirs(d, exist_ok=True)
        lines = [f"{cols[0][r]}\t{ts_text[r]}\t{cols[1][r]}\t{cols[2][r]}\t{cols[3][r]!r}\t{cols[4][r]}"
                 for r in rows]
        size = 0
        for f, chunk in enumerate(np.array_split(np.arange(len(lines)), files_per_hour)):
            path = os.path.join(d, f"part-{f:03d}.tsv")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write("".join(lines[i] + "\n" for i in chunk))
            size += os.path.getsize(path)
        out.append({"id": hid, "rows": len(lines), "bytes": size})
    return out


def write_bulk_tree(base, seed, hour_indexes, rows_per_hour, files_per_hour=4):
    """Large synthetic hours of the events_raw schema, driven by ``seed``."""
    rng = np.random.default_rng([seed, 7])
    devices = pa.array([f"dev-{i:05d}" for i in range(20000)])
    types = pa.array(EVENT_TYPES)
    payloads = pa.array([f"/api/v{v}/{w}/{x}?q={q}&page={p}"
                         for v, w, x, q, p in zip(rng.integers(1, 4, 4096),
                                                  np.array(VOCAB)[rng.integers(0, len(VOCAB), 4096)],
                                                  np.array(VOCAB)[rng.integers(0, len(VOCAB), 4096)],
                                                  rng.integers(0, 10**6, 4096),
                                                  rng.integers(0, 100, 4096))])
    opts = pacsv.WriteOptions(include_header=False, delimiter="\t", quoting_style="none")
    out = []
    for hi in hour_indexes:
        n = rows_per_hour
        start = MONTH_START + np.timedelta64(int(hi), "h")
        ts = start + np.sort(rng.integers(0, HOUR_US, n)).astype("timedelta64[us]")

        def pick(pool, k):
            return pa.DictionaryArray.from_arrays(
                pa.array(rng.integers(0, len(pool), k).astype(np.int32)), pool).cast(pa.string())
        t = pa.table({
            "event_ts": _ts_strings(ts),
            "device_id": pick(devices, n),
            "event_type": pick(types, n),
            "payload": pick(payloads, n),
            "bytes": pa.array(rng.integers(64, 1 << 20, n, dtype=np.int64)),
        })
        hid = hour_id(hi)
        d = hive_dir(base, hid)
        os.makedirs(d, exist_ok=True)
        size = 0
        step = -(-n // files_per_hour)
        for f in range(files_per_hour):
            path = os.path.join(d, f"part-{f:03d}.tsv")
            pacsv.write_csv(t.slice(f * step, step), path, opts)
            size += os.path.getsize(path)
        out.append({"id": hid, "rows": n, "bytes": size})
    return out


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, first, last, n):
    span = (np.datetime64(last, "D") - np.datetime64(first, "D")).astype(int)
    days = np.datetime64(first, "D") + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def write_tables(out_dir, sf, data_seed=42):
    """The query surface's tables at scale factor ``sf``, one parquet file each."""
    rng = np.random.default_rng(data_seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_doc, n_emb = int(1_500_000 * sf), int(6_000_000 * sf), \
        int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wheel", "spring"]
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                      "FURNITURE"])[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                "STANDARD"])[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"])[rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_line)}),
    }
    words = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        if i > 20 and i % 500 == 7:  # an exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and i % 20 == 19:  # a near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    tables["events"] = events(sf, data_seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
