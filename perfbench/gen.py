"""Seeded input generator for the benchmark.

Writes the star schema the program's registered queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column types and value domains of the project's test
tables, plus, for the ingest workload, a markdown tree and its change
batches. Everything derives from the seed: the same (seed, scale) gives
byte-identical files.

The shapes follow tools/gen_sf.py: small parquet row groups (so Spark can
split scans), a hot-customer skew plant on the orders (every 4th order past
the first tenth points at customer 7), near-duplicate and exact-duplicate
documents, and 10-cluster unit-norm float32[64] embeddings.
"""
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15]
HOT_CUSTKEY = 7
DAY_US = 86_400_000_000
EPOCH_1995 = int(dt.datetime(1995, 1, 1).timestamp()) * 1_000_000
EPOCH_2024 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000


def _write(table: pa.Table, path: str, row_group: int) -> None:
    pq.write_table(table, path, row_group_size=row_group)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list:
    lens = rng.integers(lo, hi + 1, size=n)
    flat = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB)
    out, at = [], 0
    for k in lens:
        out.append(" ".join(vocab[flat[at:at + k]]))
        at += k
    return out


def tables(out: str, seed: int, scale: float, docs: int, vecs: int) -> None:
    """The ten tables at `scale` (1.0 = 6M lineitem rows), `docs` documents
    and `vecs` embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_evt, n_user = int(6_000_000 * scale), int(1_000_000 * scale), 1500

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet", 1 << 16)
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet", 1 << 16)

    ck = np.arange(n_cust)
    _write(pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet", 16384)

    sk = np.arange(n_supp)
    _write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet", 16384)

    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }), f"{out}/part.parquet", 16384)

    ok = np.arange(n_ord)
    cust = rng.integers(0, n_cust, n_ord)
    # the skew plant: a heavy-hitter customer past the first tenth of orders
    cust = np.where((ok >= n_ord // 10) & (ok % 4 == 0), HOT_CUSTKEY, cust)
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet", 65536)

    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * DAY_US),
    }), f"{out}/lineitem.parquet", 65536)

    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_evt))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }), f"{out}/events.parquet", 65536)

    texts = _words(rng, docs, 10, 100)
    # 5% near-duplicates (an earlier text plus a marker word) and 0.2% exact
    # duplicates, the shapes the dedup queries look for
    for j in rng.choice(np.arange(1, docs), size=docs // 20, replace=False):
        texts[j] = texts[rng.integers(0, j)] + " dup"
    for j in rng.choice(np.arange(1, docs), size=max(1, docs // 500), replace=False):
        texts[j] = texts[rng.integers(0, j)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, size=docs, p=LANG_P),
        "source": np.char.add("src", (np.arange(docs) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet", 4096)

    centers = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, size=vecs)
    v = centers[labels] + 0.3 * rng.standard_normal((vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), f"{out}/embeddings.parquet", 2048)


TAGS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
        "iota", "kappa", "lambda", "mu"]


def _md(doc: dict) -> str:
    return ("---\n"
            f"title: {doc['title']}\n"
            f"lang: {doc['lang']}\n"
            f"tags: [{', '.join(doc['tags'])}]\n"
            f"rank: {doc['rank']}\n"
            f"text: {doc['text']}\n"
            "---\n"
            f"{doc['text']}\n")


def markdown(out: str, seed: int, n_docs: int, n_batches: int) -> None:
    """A markdown tree `md/v0/` of `n_docs` documents and `n_batches`
    change batches `md/b<i>/` (added and modified files) with
    `md/b<i>.json` listing the deleted slugs. `md/final.json` holds the
    snapshot after every batch, the ground truth of the lookup check."""
    rng = np.random.default_rng(seed + 1)
    texts = _words(rng, n_docs * 2, 8, 60)
    next_text = iter(texts)

    def new_doc(i: int) -> dict:
        k = int(rng.integers(1, 4))
        return {"slug": f"doc-{i:06d}", "title": f"Title {i}",
                "lang": str(rng.choice(LANGS, p=LANG_P)),
                "tags": sorted(set(str(t) for t in rng.choice(TAGS, size=k))),
                "rank": int(rng.integers(0, 1000)), "text": next(next_text)}

    md = f"{out}/md"
    os.makedirs(f"{md}/v0")
    snap = {}
    for i in range(n_docs):
        d = new_doc(i)
        snap[d["slug"]] = d
    for s, d in snap.items():
        with open(f"{md}/v0/{s}.md", "w") as f:
            f.write(_md(d))
    next_id = n_docs
    per = max(3, n_docs // 50)
    for b in range(n_batches):
        os.makedirs(f"{md}/b{b}")
        live = sorted(snap)
        picks = rng.choice(len(live), size=2 * per, replace=False)
        mods, dels = [live[i] for i in picks[:per]], [live[i] for i in picks[per:]]
        changed = []
        for s in mods:
            d = dict(snap[s])
            d["tags"] = sorted(set(d["tags"][1:] + [str(rng.choice(TAGS))]))
            d["lang"] = str(rng.choice(LANGS, p=LANG_P))
            snap[s] = d
            changed.append(d)
        for s in dels:
            del snap[s]
        for _ in range(per):
            d = new_doc(next_id)
            next_id += 1
            # every third added document copies a live text: exact duplicates
            # for the incremental dedup to find
            if len(changed) % 3 == 0:
                kept = [s for s in live if s in snap]
                d["text"] = snap[kept[int(rng.integers(0, len(kept)))]]["text"]
            snap[d["slug"]] = d
            changed.append(d)
        for d in changed:
            with open(f"{md}/b{b}/{d['slug']}.md", "w") as f:
                f.write(_md(d))
        with open(f"{md}/b{b}.json", "w") as f:
            json.dump({"deleted": dels}, f)
    with open(f"{md}/final.json", "w") as f:
        json.dump(sorted(snap.values(), key=lambda d: d["slug"]), f)


def ensure(root: str, seed: int, scale: float, docs: int, vecs: int,
           md_docs: int = 0, md_batches: int = 0) -> str:
    """Generate into a directory keyed by every size argument and the seed;
    reuse it when a complete copy is already there."""
    key = f"s{seed}_x{scale}_d{docs}_v{vecs}_m{md_docs}_b{md_batches}"
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables(tmp, seed, scale, docs, vecs)
    if md_docs:
        markdown(tmp, seed, md_docs, md_batches)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
