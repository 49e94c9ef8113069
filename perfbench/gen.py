"""Seeded input generator for the benchmark.

Writes the ten graft input tables (TPC-H-ish star schema, the `events`
stream table, `documents` and `embeddings`) as parquet, with the same
column names, types and value domains as the project's test data. The
same seed always gives byte-identical files.

The document blow-up follows tools/ScaleCheck's construction: every 4th
word of a replica's text is tagged with the replica id, so replicas are
distinct documents rather than planted duplicate cliques.

The export workload's config is the repository's config/export_config.json
with its report window replaced by the seed's month.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
COLORS = ["blue", "hot", "large", "small", "red", "green", "dark", "light"]
NOUNS = ["ring", "bolt", "anvil", "widget", "gear", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64
# Replica ids are offset by this much, as in ScaleCheck.
REPLICA_STRIDE = 10_000_000

# Ethiopian months of 2016 whose report window ends on or after the first
# generated event (2024-01-01): Tir (5) .. Pagume (13).
EXPORT_MONTHS = list(range(5, 14))
EXPORT_YEAR = 2016


def _rng(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _write(table, path, files=1):
    """One parquet file, or a directory of `files` part files."""
    if files <= 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _days(r, start, end, n):
    base = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - base).astype(int)
    return (base + r.integers(0, span + 1, n)).astype("datetime64[us]")


def _texts(r, n):
    """Documents of 10..100 words over the fixed vocabulary. About 2% are
    near-duplicates of the previous doc (one appended word) and 0.2% exact
    copies, so the dedup operators have work to find."""
    lens = r.integers(10, 101, n)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    out, pos = [], 0
    kind = r.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.002:
            out.append(out[-1])
        elif i > 0 and kind[i] < 0.022:
            out.append(out[-1] + " dup")
        else:
            out.append(" ".join(words[pos:pos + lens[i]]))
        pos += lens[i]
    return out


def tpch_events(out, seed, sf):
    """region .. lineitem and events at scale factor `sf`."""
    r = _rng(seed, 1)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    nc = max(int(150_000 * sf), 10)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)]}),
        f"{out}/customer.parquet")
    ns = max(int(10_000 * sf), 10)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)}),
        f"{out}/supplier.parquet")
    npart = max(int(200_000 * sf), 10)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)}),
        f"{out}/part.parquet")
    no = max(int(1_500_000 * sf), 10)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _money(r, 1000, 500000, no),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)]}),
        f"{out}/orders.parquet")
    nl = max(int(6_000_000 * sf), 10)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, nl)],
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", nl)}),
        f"{out}/lineitem.parquet")
    ne = max(int(1_000_000 * sf), 10)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, ne)) + start
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(int(15_000 * sf), 10), ne),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
        "value": np.round(np.minimum(r.exponential(50, ne), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]}),
        f"{out}/events.parquet")


def base_corpus(seed, n_docs, n_vecs):
    """The un-replicated documents and embeddings as column dicts."""
    r = _rng(seed, 2)
    text = _texts(r, n_docs)
    docs = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
    }
    emb = r.standard_normal((n_vecs, EMB_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    vecs = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": emb.astype(np.float32),
        "label": r.integers(0, 10, n_vecs).astype(np.int32),
    }
    return docs, vecs


def _tag(text, rep):
    ws = text.split(" ")
    return " ".join(w + f"r{rep}" if i % 4 == 0 else w for i, w in enumerate(ws))


def corpus(out, seed, n_docs, factor, files):
    """documents blown up `factor` times."""
    docs, _ = base_corpus(seed, n_docs, 0)
    d_id, d_text, d_lang, d_src = [], [], [], []
    for rep in range(factor):
        d_id.append(docs["doc_id"] + rep * REPLICA_STRIDE)
        d_text += [_tag(t, rep) for t in docs["text"]]
        d_lang.append(docs["lang"])
        d_src += docs["source"]
    d_id = np.concatenate(d_id)
    _write(pa.table({
        "doc_id": pa.array(d_id, pa.int64()),
        "text": d_text,
        "lang": np.concatenate(d_lang),
        "source": d_src,
        "n_chars": pa.array([len(t) for t in d_text], pa.int64())}),
        f"{out}/documents.parquet", files)
    return len(d_id)


def export_config(path, seed, root):
    """The checkout's config/export_config.json with the seed's report
    month as its window."""
    with open(os.path.join(root, "config", "export_config.json")) as f:
        cfg = json.load(f)
    month = EXPORT_MONTHS[_rng(seed, 3).integers(0, len(EXPORT_MONTHS))]
    cfg["window"] = {"eth_month": int(month), "eth_year": EXPORT_YEAR}
    with open(path, "w") as f:
        json.dump(cfg, f, indent=2, sort_keys=False)
        f.write("\n")
    return cfg


def generate(out, seed, spec, root):
    """Write one workload's inputs under `out`; returns a description of
    the inputs (rows and bytes per table). `root` is the graft checkout
    whose export config the export workload copies."""
    os.makedirs(out, exist_ok=True)
    if "sf" in spec:
        tpch_events(out, seed, spec["sf"])
        docs, vecs = base_corpus(seed, int(50_000 * spec["sf"]),
                                 int(20_000 * spec["sf"]))
        _write(pa.table({
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": docs["text"], "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array([len(t) for t in docs["text"]], pa.int64())}),
            f"{out}/documents.parquet")
        _write(pa.table({
            "vec_id": pa.array(vecs["vec_id"], pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs["embedding"].reshape(-1)), EMB_DIM)
            .cast(pa.list_(pa.float32())),
            "label": pa.array(vecs["label"], pa.int32())}),
            f"{out}/embeddings.parquet")
    if "corpus" in spec:
        c = spec["corpus"]
        corpus(out, seed, c["docs"], c["factor"], c["files"])
    if spec.get("export"):
        export_config(f"{out}/export_config.json", seed, root)
    return describe(out)


def describe(out):
    """rows and bytes of every generated input."""
    info = {}
    for name in sorted(os.listdir(out)):
        p = os.path.join(out, name)
        if name.endswith(".parquet"):
            files = ([os.path.join(p, f) for f in sorted(os.listdir(p))]
                     if os.path.isdir(p) else [p])
            info[name[:-len(".parquet")]] = {
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                "bytes": sum(os.path.getsize(f) for f in files)}
    return info

