"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (kind, seed): the same seed always gives
byte-identical parquet files, another seed gives other values with the same
shapes and value domains as graft's graded fixtures (TPC-H-like star schema
plus `events`, `documents` and `embeddings`).

Kinds:
  tables  - the ten graded tables at scale factor SF_QUERY, one parquet file
            each (the layout DuckDB's `read_parquet('<dir>/<t>.parquet')`
            and graft's `Tables` both read).
  corpus  - documents x REPLICAS and embeddings x REPLICAS with planted
            exact duplicates, near duplicates, boilerplate prefixes,
            low-quality and non-English rows; the ground truth goes to
            truth.json.

Output is cached per (kind, seed, generator source) under the work directory;
manifest.json records the stated input size (rows and bytes per table).
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_QUERY = 0.01
CORPUS_BASE_DOCS = 1500
CORPUS_BASE_VECS = 750
REPLICAS = 2
CACHE_KEEP = 12

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DE_WORDS = ["der", "die", "das", "und", "ist", "von", "mit", "ein"]
BOILERPLATE = ("copyright notice all rights reserved reproduced with "
               "permission terms of use apply site policy for "
               "details").split()
assert len(BOILERPLATE) == 16  # exactly one chunkDedup chunk

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def star_schema(rng, sf):
    """The TPC-H-like tables plus events at scale factor sf."""
    n_supp, n_cust = int(10_000 * sf), int(150_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)})
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev).astype(np.int64),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    return t


def word_soup(rng, n_docs):
    """The fixture's documents: 10-100 tokens from the 30-word vocabulary;
    5% are another document's text plus the token "dup"."""
    lens = rng.integers(10, 101, n_docs)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    dup = rng.random(n_docs) < 0.05
    originals = np.nonzero(~dup)[0]
    for i in np.nonzero(dup)[0]:
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return texts


def documents(rng, n_docs, texts=None):
    texts = word_soup(rng, n_docs) if texts is None else texts
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def embeddings(rng, n_vecs, vecs=None):
    vecs = rng.normal(0, 0.125, (n_vecs, 64)) if vecs is None else vecs
    flat = pa.array(vecs.astype(np.float32).reshape(-1))
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * 64 + 1, 64, dtype=np.int32)), flat),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


def gen_tables(rng, out):
    t = star_schema(rng, SF_QUERY)
    # the graded fixtures keep 500 documents and vectors below sf0.1
    t["documents"] = documents(rng, max(500, int(50_000 * SF_QUERY)))
    t["embeddings"] = embeddings(rng, max(500, int(20_000 * SF_QUERY)))
    for name, tb in t.items():
        _write(tb, os.path.join(out, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in t.items()}, {}


def _vocab(rng, size=2000):
    """WORDS plus pseudo-words, so 3-token shingles are rare by chance."""
    syl = [c + v for c in "bcdfgklmnprstvz" for v in "aeiou"]
    extra = set()
    while len(extra) < size:
        extra.add("".join(syl[i] for i in rng.integers(0, len(syl), rng.integers(2, 4))))
    return WORDS + sorted(extra - set(WORDS))


def chunk_with(toks, c, j, new):
    """The 16-token chunk starting at c with token j replaced by new."""
    return tuple(new if k == j else toks[k] for k in range(c, min(c + 16, len(toks))))


def gen_corpus(rng, out):
    """Curation corpus with planted roles.

    Roles (one per doc): keep (plain unique), boiler (unique plus the shared
    16-token boilerplate prefix), pii (unique plus an email / phone),
    exact (copy of an earlier keep doc), near (an earlier keep doc with one
    token changed per 16-token chunk), lowq (too short for the quality gate),
    foreign (German stopwords, no English ones). Apart from exact copies and
    the boilerplate, no kept document shares a 16-token chunk with another.
    The survivors of langFilter(en) -> qualityGate(0.5) ->
    piiScrub -> chunkDedup(16) -> dedupNear(k=3, tau=0.5) must be exactly
    the keep/boiler/pii docs."""
    vocab = np.asarray(_vocab(rng), dtype=object)
    n_base = CORPUS_BASE_DOCS
    n = n_base * REPLICAS
    content = np.asarray([i for i, w in enumerate(vocab) if w not in ("the", "a")])

    def fresh():
        toks = list(vocab[content[rng.integers(0, len(content), rng.integers(45, 101))]])
        toks[rng.integers(0, len(toks))] = "the"
        return toks

    base = [fresh() for _ in range(n_base)]
    roles = rng.choice(["keep", "boiler", "pii", "exact", "near", "lowq", "foreign"],
                       n, p=[0.59, 0.12, 0.05, 0.10, 0.08, 0.03, 0.03])
    roles[:100] = "keep"  # duplicates need earlier sources
    texts, keep_ids = [], []
    chunks = set()  # every 16-token chunk (chunkDedup's) of the texts so far

    def change_one(toks, c):
        """Replace one token of the chunk at c so that the chunk is new to
        the corpus. chunkDedup cuts a chunk another document already has,
        which could drop a near copy, or its source, below dedupNear's tau
        and leave the copy rightly kept against the planted truth."""
        slots = [j for j in range(c, min(c + 16, len(toks))) if toks[j] not in ("the", "a")]
        if not slots:
            return
        j = slots[int(rng.integers(0, len(slots)))]
        new = toks[j]
        while new == toks[j] or chunk_with(toks, c, j, new) in chunks:
            new = vocab[content[rng.integers(0, len(content))]]
        toks[j] = new

    for i in range(n):
        role = roles[i]
        if role in ("exact", "near"):
            src = keep_ids[rng.integers(0, len(keep_ids))]
            toks = texts[src].split(" ")
            if role == "near":
                for c in range(0, len(toks), 16):
                    change_one(toks, c)
        elif role == "lowq":
            toks = ["the"] + list(vocab[content[rng.integers(0, len(content), 4)]])
        elif role == "foreign":
            toks = list(np.asarray(DE_WORDS, dtype=object)[rng.integers(0, len(DE_WORDS), 60)])
        else:
            toks = list(base[i % n_base])
            if i >= n_base:  # replica: perturb half the tokens
                flip = rng.random(len(toks)) < 0.5
                for j in np.nonzero(flip)[0]:
                    if toks[j] != "the":
                        toks[j] = vocab[content[rng.integers(0, len(content))]]
            if role == "boiler":
                toks = BOILERPLATE + toks
            elif role == "pii":
                toks.insert(int(rng.integers(0, len(toks))),
                            f"user{int(rng.integers(0, 10**6))}@example.com"
                            if rng.random() < 0.5 else
                            f"555-{int(rng.integers(100, 1000))}-{int(rng.integers(1000, 10000))}")
            # a replica can keep a whole chunk of its base document
            for c in range(16 if role == "boiler" else 0, len(toks), 16):
                if tuple(toks[c:c + 16]) in chunks:
                    change_one(toks, c)
            if role == "keep":
                keep_ids.append(i)
        texts.append(" ".join(toks))
        chunks.update(tuple(toks[c:c + 16]) for c in range(0, len(toks), 16))
    # embeddings: replicas of random vectors; 5% are a noisy copy of an
    # earlier, otherwise untouched vector (cosine ~0.997 vs < 0.8 by chance)
    n_vec = CORPUS_BASE_VECS * REPLICAS
    vecs = rng.normal(0, 0.125, (n_vec, 64))
    used, pairs = set(), []
    for i in range(100, n_vec):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            if j in used:
                continue
            vecs[i] = vecs[j] + rng.normal(0, 0.01, 64)
            used.update((i, j))
            pairs.append((j, i))
    docs = documents(rng, n, texts)
    emb = embeddings(rng, n_vec, vecs)
    _write(docs, os.path.join(out, "documents.parquet"))
    _write(emb, os.path.join(out, "embeddings.parquet"))
    truth = {
        "survivors": sorted(int(i) for i in np.nonzero(np.isin(roles, ["keep", "boiler", "pii"]))[0]),
        "roles": {r: int((roles == r).sum()) for r in sorted(set(roles))},
        "vec_pairs": pairs,
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return {"documents": n, "embeddings": n_vec}, truth["roles"]


KINDS = {"tables": gen_tables, "corpus": gen_corpus}


def _bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def generate(kind, seed, work):
    """Return the cached input directory for (kind, seed), building it once."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(work, "data", f"{kind}-s{seed}-{version}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per kind, so adding a kind never shifts another's values
    rng = np.random.default_rng([seed, list(KINDS).index(kind)])
    rows, roles = KINDS[kind](rng, tmp)
    manifest = {
        "kind": kind, "seed": seed, "version": version,
        "rows": rows,
        "bytes": {t: _bytes(os.path.join(tmp, f"{t}.parquet")) for t in rows},
        "roles": roles,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # bound the cache: keep the newest CACHE_KEEP inputs of each kind
    root = os.path.dirname(out)
    old = sorted((d for d in os.listdir(root) if d.startswith(f"{kind}-s")),
                 key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in old[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return out


def row_digest(path):
    """Order-sensitive sha256 over every row of a table."""
    h = hashlib.sha256()
    for batch in pq.ParquetDataset(path).read().to_batches():
        for col in batch.columns:
            h.update(str(col.to_pylist()).encode())
    return h.hexdigest()


if __name__ == "__main__":
    kind, seed, work = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(generate(kind, seed, work))
