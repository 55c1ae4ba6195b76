"""Seeded input generation for the graft benchmark.

Every input the benchmark feeds graft is made here from the workload seed,
with numpy's PCG64 streams keyed by (seed, stream name). No call draws from
an unseeded source, so two generations with the same seed write byte-equal
parquet files (`python3 perfbench/gen.py --check <seed>` proves it).

Two kinds of input:

* analytics tiers: the star schema plus `events`, `documents` and
  `embeddings`, with the column types and value domains the query inventory
  is written against (one parquet file per table, like the fixture tiers).
  `tiny` is the JIT-warmup tier, `base` has the row counts of sf0.1.
* the serving corpus: a Zipf-skewed text corpus, a clustered multi-vector
  corpus, a stream of CDC batches against both and a probe stream.
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TIERS = {
    # table -> rows
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000, documents=500, embeddings=500),
    "base": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                 lineitem=600000, events=100000, documents=5000,
                 embeddings=2000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["large", "hot", "small", "pale", "shiny", "dark", "soft", "bright"]
P_NOUN = ["ring", "bolt", "nut", "gear", "plate", "screw", "valve", "pipe"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group",
             "hash", "customer", "sort", "order", "slow", "line", "part",
             "the", "fast", "row", "agg", "key", "query", "a", "scan",
             "batch"]
EMB_DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rng(seed, *stream):
    """An independent generator per (seed, stream) pair."""
    words = [int(seed)] + [int.from_bytes(hashlib.sha256(s.encode()).digest()[:4], "little")
                           for s in stream]
    return np.random.Generator(np.random.PCG64(words))


def cents(x):
    return np.round(x, 2)


def ts_us(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


# ------------------------------------------------------------------ tables
def gen_tables(seed, rows):
    """One tier of the analytics schema as {table: pyarrow.Table}."""
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    r = rng(seed, "customer")
    n = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(cents(r.uniform(-999.99, 9999.99, n))),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n)])})

    r = rng(seed, "supplier")
    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(cents(r.uniform(-999.99, 9999.99, n)))})

    r = rng(seed, "part")
    n = rows["part"]
    names = np.char.add(np.char.add(np.array(P_ADJ)[r.integers(0, 8, n)], " "),
                        np.array(P_NOUN)[r.integers(0, 8, n)])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": pa.array(np.array(P_TYPES)[r.integers(0, 6, n)]),
        "p_size": pa.array(r.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(cents(900 + (np.arange(n) % 2000) * 0.1))})
    price = t["part"]["p_retailprice"].to_numpy()

    r = rng(seed, "orders")
    n = rows["orders"]
    odate = EPOCH_1995 + r.integers(0, 2404, n) * US_PER_DAY  # .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, rows["customer"], n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)]),
        "o_totalprice": pa.array(cents(r.uniform(1000, 500000, n))),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)])})

    r = rng(seed, "lineitem")
    n = rows["lineitem"]
    okey = r.integers(0, rows["orders"], n, dtype=np.int64)
    pkey = r.integers(0, rows["part"], n, dtype=np.int64)
    qty = r.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(r.integers(0, rows["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(cents(qty * price[pkey])),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": ts_us(odate[okey] + r.integers(1, 122, n) * US_PER_DAY)})

    r = rng(seed, "events")
    n = rows["events"]
    span = 30 * US_PER_DAY
    ts = EPOCH_2024 + np.sort(r.integers(0, span, n))
    users = max(15, rows["customer"] // 10)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_us(ts),
        "user_id": pa.array(r.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(cents(r.uniform(0, 200, n))),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})

    r = rng(seed, "documents")
    n = rows["documents"]
    texts = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.002:          # exact duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and u < 0.05:         # near duplicate: one word marked
            w = texts[int(r.integers(0, i))].split(" ")
            w[int(r.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            k = int(r.integers(8, 100))
            texts.append(" ".join(np.array(DOC_WORDS)[r.integers(0, len(DOC_WORDS), k)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.integers(0, 5, n)]),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n)]),
        "n_chars": pa.array(r.integers(40, 600, n, dtype=np.int64))})

    r = rng(seed, "embeddings")
    n = rows["embeddings"]
    labels = r.integers(0, 10, n, dtype=np.int32)
    centers = r.normal(0, 1, (10, EMB_DIM))
    vecs = centers[labels] + r.normal(0, 1.2, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})
    return t


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def write_tier(seed, tier, out):
    tables = gen_tables(seed, TIERS[tier])
    for name, tab in tables.items():
        write(tab, os.path.join(out, f"{name}.parquet"))


# ------------------------------------------------------------ serving corpus
CORPUS_DOCS = 3000
VOCAB = 3000
VEC_DOCS = 250           # multi-vector docs; token k belongs to doc k div 10
VEC_TOKENS = 8           # tokens per doc (ids d*10 .. d*10+7)
VEC_TOPICS = 24
CDC_BATCHES = 20
PROBES = 400
ZIPF_S = 1.1


def vocab_words():
    cons = "bcdfghjklmnprstvz"
    vow = "aeiou"
    out = []
    for i in range(VOCAB):
        a, b, c = i % 17, (i // 17) % 5, (i // 85) % 17
        out.append(f"{cons[a]}{vow[b]}{cons[c]}{vow[(i // 1445) % 5]}{i % 7}")
    return out


def zipf_p(n):
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


def doc_text(r, words, p):
    k = int(r.integers(6, 30))
    return " ".join(words[r.choice(len(words), size=k, p=p)])


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def csv(v):
    return ",".join(f"{x:.5f}" for x in v)


def write_corpus(seed, out):
    words = np.array(vocab_words())
    words = words[rng(seed, "vocab-rank").permutation(VOCAB)]  # rank -> word
    p = zipf_p(VOCAB)

    r = rng(seed, "text-corpus")
    texts = [doc_text(r, words, p) for _ in range(CORPUS_DOCS)]
    attrs = r.integers(0, 4, CORPUS_DOCS)
    write(pa.table({"k": pa.array(np.arange(CORPUS_DOCS, dtype=np.int64)),
                    "grp": pa.array(["d"] * CORPUS_DOCS),
                    "amt_cents": pa.array(attrs.astype(np.int64)),
                    "text": pa.array(texts)}), os.path.join(out, "text.parquet"))

    r = rng(seed, "vec-corpus")
    topics = unit(r.normal(0, 1, (VEC_TOPICS, EMB_DIM)))

    def doc_vectors(rr):
        c = topics[int(rr.integers(0, VEC_TOPICS))]
        return unit(c + 0.9 * unit(rr.normal(0, 1, (VEC_TOKENS, EMB_DIM))))

    vk, vemb = [], []
    for d in range(VEC_DOCS):
        for t, v in enumerate(doc_vectors(r)):
            vk.append(d * 10 + t)
            vemb.append(csv(v))
    write(pa.table({"k": pa.array(np.array(vk, dtype=np.int64)),
                    "grp": pa.array(["e"] * len(vk)),
                    "amt_cents": pa.array(np.zeros(len(vk), dtype=np.int64)),
                    "emb": pa.array(vemb)}), os.path.join(out, "vec.parquet"))

    # CDC: each batch deletes, updates and inserts docs of both corpora.
    r = rng(seed, "cdc")
    live_t = list(range(CORPUS_DOCS))
    live_v = list(range(VEC_DOCS))
    next_t, next_v = CORPUS_DOCS, VEC_DOCS
    cdc = os.path.join(out, "cdc")
    os.makedirs(cdc)
    for b in range(CDC_BATCHES):
        pick = r.choice(len(live_t), 16, replace=False)
        dels = [live_t[i] for i in pick[:8]]
        upds = [live_t[i] for i in pick[8:]]
        ins = list(range(next_t, next_t + 8))
        next_t += 8
        live_t = [k for k in live_t if k not in set(dels)] + ins
        rows = [("D", k, "d", 0, None) for k in dels]
        rows += [("U", k, "d", int(r.integers(0, 4)), doc_text(r, words, p)) for k in upds]
        rows += [("I", k, "d", int(r.integers(0, 4)), doc_text(r, words, p)) for k in ins]
        write(pa.table({"op": [x[0] for x in rows], "k": pa.array([x[1] for x in rows], pa.int64()),
                        "grp": [x[2] for x in rows],
                        "amt_cents": pa.array([x[3] for x in rows], pa.int64()),
                        "text": pa.array([x[4] for x in rows], pa.string())}),
              os.path.join(cdc, f"text-{b:04d}.parquet"))

        pick = r.choice(len(live_v), 4, replace=False)
        vdel = [live_v[i] for i in pick[:2]]
        vupd = [live_v[i] for i in pick[2:]]
        vins = list(range(next_v, next_v + 2))
        next_v += 2
        live_v = [d for d in live_v if d not in set(vdel)] + vins
        rows = [("D", d * 10 + t, None) for d in vdel for t in range(VEC_TOKENS)]
        for op, ds in (("U", vupd), ("I", vins)):
            for d in ds:
                for t, v in enumerate(doc_vectors(r)):
                    rows.append((op, d * 10 + t, csv(v)))
        write(pa.table({"op": [x[0] for x in rows], "k": pa.array([x[1] for x in rows], pa.int64()),
                        "grp": ["e"] * len(rows),
                        "amt_cents": pa.array([0] * len(rows), pa.int64()),
                        "emb": pa.array([x[2] for x in rows], pa.string())}),
              os.path.join(cdc, f"vec-{b:04d}.parquet"))

    # Probe stream: kinds, Zipf-drawn BM25 terms, perturbed query vectors.
    r = rng(seed, "probes")
    kinds = ["bm25", "bm25_attr", "ann", "ann_filtered", "maxsim"]
    probes = []
    for i in range(PROBES):
        kind = kinds[int(r.choice(5, p=[0.3, 0.1, 0.25, 0.1, 0.25]))]
        if kind.startswith("bm25"):
            n = int(r.integers(1, 4))
            q = {"kind": kind, "terms": [str(w) for w in words[r.choice(VOCAB, n, p=p)]]}
            if kind == "bm25_attr":
                q["attr"] = int(r.integers(0, 4))
        elif kind.startswith("ann"):
            c = topics[int(r.integers(0, VEC_TOPICS))]
            q = {"kind": kind, "vec": [round(float(x), 5) for x in
                                       unit(c + 0.9 * unit(r.normal(0, 1, EMB_DIM)))]}
        else:
            c = topics[int(r.integers(0, VEC_TOPICS))]
            q = {"kind": kind, "vecs": [[round(float(x), 5) for x in v] for v in
                                        unit(c + 0.9 * unit(r.normal(0, 1, (4, EMB_DIM))))]}
        probes.append(q)
    with open(os.path.join(out, "probes.json"), "w") as f:
        json.dump(probes, f)


# ----------------------------------------------------------------- entry
KINDS = {"tiny": lambda s, o: write_tier(s, "tiny", o),
         "base": lambda s, o: write_tier(s, "base", o),
         "corpus": write_corpus}


def prune(root, prefix, keep):
    """Delete all but the `keep` most recently used entries named prefix*."""
    if not os.path.isdir(root):
        return
    old = sorted((e for e in os.scandir(root) if e.name.startswith(prefix)),
                 key=lambda e: e.stat().st_mtime, reverse=True)[keep:]
    for e in old:
        shutil.rmtree(e.path, ignore_errors=True)


def ensure(kind, seed, root, keep=3):
    """Generate `kind` for `seed` under root/<kind>-<seed> unless cached;
    returns the directory. A finished generation is marked by _DONE; only
    the `keep` most recently used generations of a kind stay cached."""
    out = os.path.join(root, f"{kind}-{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    prune(root, f"{kind}-", keep - 1)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    KINDS[kind](seed, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def tree_hash(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main():
    """`gen.py --check SEED [KIND...]`: generate twice, compare the hashes."""
    if len(sys.argv) < 3 or sys.argv[1] != "--check":
        sys.exit("usage: python3 perfbench/gen.py --check SEED [tiny|base|corpus ...]")
    seed = int(sys.argv[2])
    kinds = sys.argv[3:] or list(KINDS)
    here = os.path.dirname(os.path.abspath(__file__))
    scratch = os.path.join(os.path.dirname(here), ".bench_build", "gencheck")
    ok = True
    for kind in kinds:
        hashes = []
        for i in range(2):
            root = os.path.join(scratch, str(i))
            shutil.rmtree(os.path.join(root, f"{kind}-{seed}"), ignore_errors=True)
            hashes.append(tree_hash(ensure(kind, seed, root)))
        same = hashes[0] == hashes[1]
        ok &= same
        print(f"{kind} seed={seed} {'equal' if same else 'DIFFERENT'} {hashes[0][:16]} {hashes[1][:16]}")
    shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
