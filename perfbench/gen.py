"""Seeded input generator for the benchmark.

Writes the catalog tables the workloads read (nation, customer, orders,
documents, embeddings) with the shapes, types and value distributions of
the TPC-H-ish test data the catalog queries are written against, scaled
by a TPC-H-style scale factor (orders has 1.5M * sf rows), plus the
hardware-survey aggregate input of the `hardware_report` job. The same
seed always gives the same bytes.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _days(base, offsets):
    start = np.datetime64(base, "us")
    return (start + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def catalog_tables(out, seed, sf, tables):
    """The catalog tables named in `tables` at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_ord = max(1_000, int(1_500_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(50, int(20_000 * sf))
    # each table draws from its own child stream so the tables a workload
    # skips do not shift the ones it writes
    streams = dict(zip(["customer", "orders", "documents", "embeddings"], rng.spawn(4)))

    def money(r, lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    def pick(r, values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)], pa.string())

    if "nation" in tables:
        _write(f"{out}/nation.parquet", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in tables:
        r = streams["customer"]
        _write(f"{out}/customer.parquet", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(r, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust),
        })
    if "orders" in tables:
        r = streams["orders"]
        _write(f"{out}/orders.parquet", {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(r, ["O", "F", "P"], n_ord),
            "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_days("1995-01-01", r.integers(0, 2404, n_ord)), pa.timestamp("us")),
            "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        })
    if "documents" in tables:
        r = streams["documents"]
        texts = []
        for i in range(n_docs):
            if i > 20 and r.random() < 0.05:
                texts.append(texts[int(r.integers(0, i))].removesuffix(" dup") + " dup")
            else:
                words = np.asarray(VOCAB, dtype=object)[r.integers(0, len(VOCAB), int(r.integers(10, 90)))]
                texts.append(" ".join(words))
        _write(f"{out}/documents.parquet", {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pick(r, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if "embeddings" in tables:
        r = streams["embeddings"]
        x = r.standard_normal((n_vecs, 64))
        x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
        _write(f"{out}/embeddings.parquet", {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
        })


HW_OS = ["Windows_NT-10.0", "Windows_NT-6.1", "Windows_NT-6.3", "Windows_NT-6.2",
         "Darwin-19.6.0", "Darwin-20.1.0", "Linux-5.4.0", "Linux-4.15.0", "Windows_NT-5.1"]
HW_GPU = [("0x10de", "0x13c1"), ("0x10de", "0x13c2"), ("0x10de", "0x1b00"),
          ("0x8086", "0x1912"), ("0x8086", "0x0166"), ("0x1002", "0x6779"),
          ("0x1234", "0x0001"), ("0x15ad", "0x0405")]


def hardware_input(path, seed, weeks, last_week_start, combos_per_week):
    """Pre-aggregated hardware-survey rows (FIXTURES.md section 4), one
    block of dimension combos per week ending at `last_week_start`."""
    r = np.random.default_rng([seed, 4])
    last = dt.date.fromisoformat(last_week_start)
    cols = {k: [] for k in ("date_from", "date_to", "os", "browser_arch", "cpu_cores",
                            "cpu_vendor", "cpu_speed", "resolution", "memory_gb",
                            "has_flash", "is_wow64", "gfx0_vendor_id", "gfx0_device_id",
                            "client_count")}

    def skewed(values, n):
        # Zipf-ish popularity, so the 1% "Other" collapse has small buckets to fold
        w = 1.0 / np.arange(1, len(values) + 1) ** 1.3
        return [values[i] for i in r.choice(len(values), n, p=w / w.sum())]

    for w in range(weeks):
        start = last - dt.timedelta(days=7 * w)
        n = combos_per_week
        cols["date_from"] += [start] * n
        cols["date_to"] += [start + dt.timedelta(days=7)] * n
        cols["os"] += skewed(HW_OS, n)
        cols["browser_arch"] += skewed(["x86-64", "x86", "aarch64"], n)
        cols["cpu_cores"] += skewed([4, 2, 8, 6, 12, 16, 1, 32], n)
        cols["cpu_vendor"] += skewed(["GenuineIntel", "AuthenticAMD", "Other"], n)
        cols["cpu_speed"] += skewed(["2.4", "3.6", "2.9", "3.2", "1.6", "Other", "4.2"], n)
        cols["resolution"] += skewed(["1920x1080", "1366x768", "2560x1440", "0x0", "1280x800",
                                      "3840x2160", "1600x900", "1024x768"], n)
        cols["memory_gb"] += skewed([8, 4, 16, 2, 32, 12, 64], n)
        cols["has_flash"] += skewed([False, True, None], n)
        cols["is_wow64"] += [bool(b) for b in r.integers(0, 2, n)]
        gpu = skewed(HW_GPU, n)
        cols["gfx0_vendor_id"] += [g[0] for g in gpu]
        cols["gfx0_device_id"] += [g[1] for g in gpu]
        cols["client_count"] += [int(c) for c in r.integers(1, 400, n)]
    types = {"date_from": pa.date32(), "date_to": pa.date32(), "cpu_cores": pa.int32(),
             "memory_gb": pa.int32(), "has_flash": pa.bool_(), "is_wow64": pa.bool_(),
             "client_count": pa.int64()}
    _write(path, {k: pa.array(v, types.get(k, pa.string())) for k, v in cols.items()})

