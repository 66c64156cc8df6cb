"""Seeded corpora for the benchmark.

The tables reproduce tools/gen_sf.py: the same ten tables, schemas, value
distributions and splittable row-group layout (groups of n_rows/256, at
least 1024 rows). The only difference is that the random stream starts from
the benchmark's seed instead of a fixed one, so each seed is a different
corpus of the same shape. Row counts scale with sf (sf=1 -> 6M lineitem).

Corpora are cached by (seed, sf) under the build directory, keyed also on a
hash of this file so that a changed generator never reuses an old corpus
(nor the oracle results cached inside it); each carries a
manifest.json with bytes, rows and row groups per table. The blob table of
the age_crypto workload (64 random 1 MiB payloads) lives in its own cache
entry so that it never counts towards the star schema's size.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BLOB_COUNT = 64
BLOB_BYTES = 1 << 20
# corpora kept in the cache; the oldest is evicted first
CACHE_ENTRIES = 6
with open(__file__, "rb") as _f:
    GENERATOR = hashlib.sha1(_f.read()).hexdigest()[:10]


def _write(outdir, name, table):
    rg = max(1024, table.num_rows // 256)
    pq.write_table(table, f"{outdir}/{name}.parquet", row_group_size=rg)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _generate(sf, seed, outdir):
    rng = np.random.default_rng(seed)
    _write(outdir, "region", pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(outdir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}))

    n_cust = int(150_000 * sf)
    ck = np.arange(n_cust)
    _write(outdir, "customer", pa.table({
        "c_custkey": pa.array(ck, type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(ck % 25, type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[ck % 5]}))

    n_supp = int(10_000 * sf)
    sk = np.arange(n_supp)
    _write(outdir, "supplier", pa.table({
        "s_suppkey": pa.array(sk, type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(sk % 25, type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)}))

    n_part = int(200_000 * sf)
    pk = np.arange(n_part)
    adjectives = np.array(["large", "hot", "blue", "small", "dark", "green",
                           "red", "cold", "shiny", "plain"])
    nouns = np.array(["ring", "bolt", "case", "drum", "gear", "plate",
                      "wheel", "pin", "rod", "cap"])
    _write(outdir, "part", pa.table({
        "p_partkey": pa.array(pk, type=pa.int64()),
        "p_name": [f"{a} {n}" for a, n in
                   zip(adjectives[pk % 10], nouns[(pk // 10) % 10])],
        "p_brand": [f"Brand#{i % 25 + 1}" for i in pk],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[pk % 6],
        "p_size": pa.array(pk % 50 + 1, type=pa.int32()),
        "p_retailprice": np.round(900 + (pk % 100000) / 10, 2)}))

    n_ord = int(1_500_000 * sf)
    ok = np.arange(n_ord)
    base = np.datetime64("1995-01-01", "us").astype(np.int64)
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01"))
                    / np.timedelta64(1, "D"))
    odate_us = base + rng.integers(0, span_days, n_ord) * DAY_US
    _write(outdir, "orders", pa.table({
        "o_orderkey": pa.array(ok, type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[ok % 3],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(odate_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[ok % 5]}))

    n_li = int(6_000_000 * sf)
    lok = rng.integers(0, n_ord, n_li)
    lok.sort()
    change = np.concatenate(([True], lok[1:] != lok[:-1]))
    idx = np.arange(n_li)
    run_start = np.maximum.accumulate(np.where(change, idx, 0))
    linenum = (idx - run_start + 1).astype(np.int32)
    _write(outdir, "lineitem", pa.table({
        "l_orderkey": pa.array(lok, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(linenum, type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["R", "N", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate_us[lok] + rng.integers(1, 96, n_li) * DAY_US)}))

    n_ev = int(1_000_000 * sf)
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_us = ev_base + rng.integers(0, 30 * DAY_US, n_ev)
    ev_us.sort()
    _write(outdir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev),
                            type=pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))

    n_doc = int(50_000 * sf)
    vocab = np.array(["spark", "line", "column", "order", "sort", "fast",
                      "value", "scan", "hash", "slow", "group", "batch",
                      "query", "agg", "table", "key", "stream", "filter",
                      "customer", "window", "join", "part", "vector", "the",
                      "a", "small", "g"])
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    doc_words = rng.integers(12, 60, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), w)]) for w in doc_words]
    for i in range(0, n_doc, 20):  # exact duplicates for dd01
        if i + 1 < n_doc:
            texts[i + 1] = texts[i]
    _write(outdir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), type=pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())}))

    n_vec = int(20_000 * sf)
    cents = rng.normal(0, 1, (20, 64))
    assign = rng.integers(0, 20, n_vec)
    vecs = (cents[assign] + rng.normal(0, 0.4, (n_vec, 64))).astype(np.float32)
    _write(outdir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(assign, type=pa.int32())}))


def _generate_blobs(seed, outdir, count, size):
    # a stream of its own, so the blobs do not shift the tables' values
    rng = np.random.default_rng([seed, 1])
    payload = rng.integers(0, 256, count * size, dtype=np.uint8).tobytes()
    blobs = [payload[i * size:(i + 1) * size] for i in range(count)]
    pq.write_table(pa.table({
        "blob_id": pa.array(np.arange(count), type=pa.int64()),
        "payload": pa.array(blobs, type=pa.binary())}),
        f"{outdir}/blobs.parquet", row_group_size=16)


def _manifest(outdir):
    tables = {}
    for f in sorted(os.listdir(outdir)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f"{outdir}/{f}").metadata
        tables[f[:-len(".parquet")]] = {
            "bytes": os.path.getsize(f"{outdir}/{f}"),
            "rows": md.num_rows, "row_groups": md.num_row_groups}
    return {"tables": tables,
            "bytes": sum(t["bytes"] for t in tables.values()),
            "rows": sum(t["rows"] for t in tables.values())}


def _cached(cache_dir, key, build):
    """Return the cache entry `key`, building it first when absent. An entry
    counts only once its manifest is written, so a run cut short never
    leaves a half-written corpus behind for the next one."""
    path = os.path.join(cache_dir, key)
    if not os.path.exists(os.path.join(path, "manifest.json")):
        os.makedirs(cache_dir, exist_ok=True)
        _evict(cache_dir)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(_manifest(tmp), f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(path)
    return path


def _evict(cache_dir):
    entries = sorted((os.path.getmtime(os.path.join(cache_dir, e)), e)
                     for e in os.listdir(cache_dir) if not e.endswith(".tmp"))
    for _, e in entries[:max(0, len(entries) - CACHE_ENTRIES + 1)]:
        shutil.rmtree(os.path.join(cache_dir, e), ignore_errors=True)


def ensure(cache_dir, seed, sf):
    """Path of the (seed, sf) star-schema corpus, generated on first use."""
    return _cached(cache_dir, f"seed{seed}_sf{sf:g}_{GENERATOR}",
                   lambda out: _generate(sf, seed, out))


def ensure_blobs(cache_dir, seed, count=BLOB_COUNT, size=BLOB_BYTES):
    """Path of the seed's blob table (`count` random payloads of `size`)."""
    return _cached(cache_dir, f"seed{seed}_blobs{count}x{size}_{GENERATOR}",
                   lambda out: _generate_blobs(seed, out, count, size))


def check(path):
    """Fail loudly when a corpus is missing or incomplete: the benchmark
    never skips a lane whose inputs are absent."""
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    for name in manifest["tables"]:
        if not os.path.isfile(os.path.join(path, f"{name}.parquet")):
            raise FileNotFoundError(f"corpus {path} lacks {name}.parquet")
    return manifest
