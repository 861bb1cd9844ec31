#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen_inputs.py --workload <name> --seed <n> --out <dir> --docs <n>

The same (workload, seed, docs) always yields byte-identical files
(`selftest.py` asserts it). Every file the engine reads is written here,
and so is the planted truth the benchmark checks outputs against:

* pu_mapreduce: `params.txt` (range offsets and steps, slice ranks),
  `queries.bin` (point-query values, little-endian int32 triples) and
  `truth.txt` (closed-form results computed here with Python integers,
  plus point-query answers from a brute-force decode).
* curate_batch / index_ingest: `documents.parquet` (a Zipfian corpus on
  the law of tools/gen_zipf.py: 50k-token vocabulary, rank^-1.1 shares,
  syllable words, with planted exact- and near-duplicate families),
  `embeddings.parquet` (clustered 64-d vectors, cluster = id mod
  CLUSTERS), `queries.txt` (BM25 queries), `probes.txt` (ADC probes
  with their cluster), and the truth: `families.txt` (the planted
  families), `titles.txt` (every title, for checking edit distances)
  and `truth.txt` (counts, survivor sums, per-part sizes).
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- corpus law (tools/gen_zipf.py) --------------------------------------
VOCAB = 50_000
ZIPF_S = 1.1
CONSONANTS = "bcdfghjklmnpqrstvwxz"
VOWELS = "aeiou"
SYLLABLES = [c + v for c in CONSONANTS for v in VOWELS]
# stopword profiles of TextFunctions.langId; a doc's language decides
# which profile words are mixed into its text
PROFILES = {
    "en": ["the", "a", "of", "and", "in", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
}
LANGS = ["en", "de", "fr"]
LANG_P = [0.6, 0.2, 0.2]
STOPWORD_RATE = 0.08
N_SOURCES = 16
TITLE_LEN = 64
EMB_DIM = 64
CLUSTERS = 32
N_PARTS = 3  # index_ingest: part 0 base, 1 delta, 2 probe set
PART_P = [0.6, 0.2, 0.2]

# ---- pu_mapreduce shape ---------------------------------------------------
ZIP_LEN = 100_000_000
PROD_DIMS = (250, 200, 200)        # 10^7 elements
SPLIT_DIMS = (100, 100, 100)       # 10^6 elements walked by pmapreduceProductSplit
CONCAT_LEN = 100_000
ELSUM_RANKS = 224
ELSUM_LEN = 100_000
BATCH_LEN = 200_000
STATS_DIMS = (200, 100, 250)       # 5*10^6 rows of productDF
STATS_NP = 25
PQ_SIDE = 100_000                  # BASELINE's (1:10^5)^3
PQ_NP = 25_000
PQ_SLICES = 8
PQ_QUERIES = 200_000


def syllable_word(i):
    """Bijective base-100 numeration over CV syllables (tools/gen_zipf.py)."""
    parts = []
    i += 1
    while i > 0:
        i -= 1
        parts.append(SYLLABLES[i % 100])
        i //= 100
    return "".join(reversed(parts))


def write_kv(path, items):
    with open(path, "w") as f:
        for k, v in items:
            f.write(f"{k}={v}\n")


# ---- pu_mapreduce -----------------------------------------------------------

def split_range(length, np_, p):
    """(drop, take) of rank p (1-based): the first length % np ranks get one more."""
    d, r = divmod(length, np_)
    drop = d * (p - 1) + min(r, p - 1)
    return drop, d * p + min(r, p) - drop


def gen_pu(rng, out):
    zip_a = int(rng.integers(1, 1000))
    zip_b = int(rng.integers(1, 1000))
    zip_step = int(rng.integers(1, 8))
    prod_off = [int(x) for x in rng.integers(0, 50, size=3)]
    split_off = [int(x) for x in rng.integers(0, 50, size=3)]
    concat_a = int(rng.integers(0, 10_000))
    batch_a = int(rng.integers(0, 10_000))
    batch_step = int(rng.integers(1, 5))
    stats_off = [int(x) for x in rng.integers(0, 50, size=3)]
    slice_ranks = sorted(int(x) for x in rng.choice(np.arange(1, PQ_NP + 1), PQ_SLICES, replace=False))

    # zip_sum: f(x, y) = x + y over (a:a+L-1) zip (b:step:...)
    L = ZIP_LEN
    tri = L * (L - 1) // 2
    zip_sum = L * zip_a + tri + L * zip_b + zip_step * tri
    # product_sum: f(x, y, z) = x + 2y + 3z over the 3-D product
    n1, n2, n3 = PROD_DIMS
    sx = sum(range(prod_off[0] + 1, prod_off[0] + n1 + 1))
    sy = sum(range(prod_off[1] + 1, prod_off[1] + n2 + 1))
    sz = sum(range(prod_off[2] + 1, prod_off[2] + n3 + 1))
    product_sum = n2 * n3 * sx + 2 * n1 * n3 * sy + 3 * n1 * n2 * sz
    split_len = SPLIT_DIMS[0] * SPLIT_DIMS[1] * SPLIT_DIMS[2]
    concat_sum = sum(range(concat_a, concat_a + CONCAT_LEN))
    batch_sum = sum(2 * (batch_a + j * batch_step) for j in range(BATCH_LEN))
    stats_len = STATS_DIMS[0] * STATS_DIMS[1] * STATS_DIMS[2]

    # point queries on (1:10^5)^3 split over 25000 ranks: query i asks
    # slice i % PQ_SLICES about a value inside that slice half the time,
    # and about a uniform element of the whole product otherwise
    total = PQ_SIDE ** 3
    bounds = []
    for p in slice_ranks:
        drop, take = split_range(total, PQ_NP, p)
        bounds.append((drop, drop + take - 1))
    qslice = np.arange(PQ_QUERIES) % PQ_SLICES
    inside = rng.random(PQ_QUERIES) < 0.5
    lo = np.array([bounds[s][0] for s in qslice], dtype=np.int64)
    hi = np.array([bounds[s][1] for s in qslice], dtype=np.int64)
    local = rng.integers(0, 1 << 62, size=PQ_QUERIES) % (hi - lo + 1)
    anywhere = rng.integers(0, total, size=PQ_QUERIES, dtype=np.int64)
    flat = np.where(inside, lo + local, anywhere)
    idx = np.stack([flat % PQ_SIDE, (flat // PQ_SIDE) % PQ_SIDE, flat // PQ_SIDE // PQ_SIDE], axis=1)
    values = (idx + 1).astype("<i4")
    values.tofile(os.path.join(out, "queries.bin"))

    # brute-force answers, summed over all queries
    hit = (flat >= lo) & (flat <= hi)
    contains_sum = int(hit.sum())
    local_index_sum = int(np.where(hit, flat - lo + 1, 0).sum())
    d, r = divmod(total, PQ_NP)
    rank = np.where(flat < r * (d + 1), flat // (d + 1), r + (flat - r * (d + 1)) // max(d, 1)) + 1
    which_proc_sum = int(rank.sum())
    # extrema and distinct counts per (slice, dim): a slice holds 4*10^10
    # elements, so enumerate each dim's digit over the slice instead -- the
    # digit of dim k at flat f is (f // w_k) % n, and n + 1 consecutive
    # quotients already visit every residue
    extrema = {}
    for s, (a, b) in enumerate(bounds):
        for k in range(3):
            w = PQ_SIDE ** k
            qa, qb = a // w, b // w
            vals = np.arange(qa, min(qb, qa + PQ_SIDE) + 1, dtype=np.int64) % PQ_SIDE + 1
            extrema[(s, k)] = (int(vals.min()), int(vals.max()), int(np.unique(vals).size))
    extrema_sum = 0
    nelements_sum = 0
    counts = np.bincount(qslice * 3 + (np.arange(PQ_QUERIES) % 3), minlength=PQ_SLICES * 3)
    for s in range(PQ_SLICES):
        for k in range(3):
            c = int(counts[s * 3 + k])
            mn, mx, ne = extrema[(s, k)]
            extrema_sum += c * (mn + mx)
            nelements_sum += c * ne

    write_kv(os.path.join(out, "params.txt"), [
        ("zip_len", ZIP_LEN), ("zip_a", zip_a), ("zip_b", zip_b), ("zip_step", zip_step),
        ("prod_dims", ",".join(map(str, PROD_DIMS))), ("prod_off", ",".join(map(str, prod_off))),
        ("split_dims", ",".join(map(str, SPLIT_DIMS))), ("split_off", ",".join(map(str, split_off))),
        ("concat_a", concat_a), ("concat_len", CONCAT_LEN),
        ("elsum_ranks", ELSUM_RANKS), ("elsum_len", ELSUM_LEN),
        ("batch_a", batch_a), ("batch_step", batch_step), ("batch_len", BATCH_LEN),
        ("stats_dims", ",".join(map(str, STATS_DIMS))), ("stats_off", ",".join(map(str, stats_off))),
        ("stats_np", STATS_NP),
        ("pq_side", PQ_SIDE), ("pq_np", PQ_NP), ("pq_slices", ",".join(map(str, slice_ranks))),
        ("pq_queries", PQ_QUERIES),
    ])
    rank_lines = []
    for p in range(1, STATS_NP + 1):
        drop, take = split_range(stats_len, STATS_NP, p)
        rank_lines.append((f"rank_stats.{p}", f"{take},{drop},{drop + take - 1}"))
    write_kv(os.path.join(out, "truth.txt"), [
        ("zip_sum", zip_sum), ("product_sum", product_sum), ("split_walk", split_len),
        ("concat_sum", concat_sum), ("batch_sum", batch_sum),
        ("contains_sum", contains_sum), ("local_index_sum", local_index_sum),
        ("which_proc_sum", which_proc_sum), ("extrema_sum", extrema_sum),
        ("nelements_sum", nelements_sum),
    ] + rank_lines)


# ---- corpus -----------------------------------------------------------------

def mutate_words(rng, toks, n_edits):
    toks = list(toks)
    for _ in range(n_edits):
        toks[int(rng.integers(0, len(toks)))] = int(rng.integers(0, VOCAB))
    return toks


def mutate_title(rng, title, n_edits):
    chars = list(title)
    for _ in range(n_edits):
        pos = int(rng.integers(0, len(chars)))
        alphabet = [c for c in "abcdefghijklmnopqrstuvwxyz" if c != chars[pos]]
        chars[pos] = alphabet[int(rng.integers(0, len(alphabet)))]
    return "".join(chars)


def gen_corpus(rng, out, n_docs):
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    words = [syllable_word(i) for i in range(VOCAB)]
    lengths = rng.integers(80, 201, size=n_docs)
    flat = rng.choice(VOCAB, size=int(lengths.sum()), p=p)
    offs = np.concatenate([[0], np.cumsum(lengths)])
    toks = [flat[offs[i]:offs[i + 1]].tolist() for i in range(n_docs)]
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    # source domains with skewed sizes, so the per-domain cap binds on the big ones
    src_p = 1.0 / np.arange(1, N_SOURCES + 1)
    src_p /= src_p.sum()
    sources = rng.choice(N_SOURCES, size=n_docs, p=src_p)

    # planted families: a root doc plus 1-3 members. A third of the
    # families are exact copies, the rest near duplicates (1-2 word
    # substitutions; titles 1-2 character substitutions)
    order = rng.permutation(n_docs)
    families = []
    pos = 0
    target_members = n_docs // 10
    members_total = 0
    while members_total < target_members:
        size = int(rng.integers(2, 5))
        fam = sorted(int(x) for x in order[pos:pos + size])
        pos += size
        families.append((fam, "exact" if len(families) % 3 == 0 else "near"))
        members_total += size - 1

    def render(tk, lang):
        prof = PROFILES[LANGS[lang]]
        return " ".join(prof[t % len(prof)] if t < 0 else words[t] for t in tk)

    # stopwords are mixed in as negative token ids before rendering, so
    # exact copies stay exact and mutants share them
    for i in range(n_docs):
        sw = rng.random(len(toks[i])) < STOPWORD_RATE
        if sw.any():
            tk = toks[i]
            for j in np.nonzero(sw)[0]:
                tk[int(j)] = -1 - int(rng.integers(0, 7))
    titles = []
    for i in range(n_docs):
        t = render(toks[i], langs[i])
        titles.append((t + " " + t)[:TITLE_LEN].ljust(TITLE_LEN, "x"))
    for fam, kind in families:
        root = fam[0]
        for m in fam[1:]:
            langs[m] = langs[root]
            sources[m] = sources[root]
            if kind == "exact":
                toks[m] = list(toks[root])
                titles[m] = titles[root]
            else:
                toks[m] = mutate_words(rng, toks[root], int(rng.integers(1, 3)))
                titles[m] = mutate_title(rng, titles[root], int(rng.integers(1, 3)))
    texts = [render(toks[i], langs[i]) for i in range(n_docs)]
    parts = rng.choice(N_PARTS, size=n_docs, p=PART_P)

    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "title": pa.array(titles),
        "lang": pa.array([LANGS[x] for x in langs]),
        "source": pa.array([f"src{x:02d}" for x in sources]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        "part": pa.array(parts.astype(np.int32)),
    }), os.path.join(out, "documents.parquet"), compression="snappy")

    # clustered embeddings: id i belongs to cluster i % CLUSTERS
    centers = rng.normal(0.0, 1.0, size=(CLUSTERS, EMB_DIM))
    ids = np.arange(n_docs, dtype=np.int64)
    vecs = np.round(centers[ids % CLUSTERS] + rng.normal(0.0, 0.05, size=(n_docs, EMB_DIM)), 6)
    pq.write_table(pa.table({
        "id": pa.array(ids),
        "vec": pa.array(list(vecs), type=pa.list_(pa.float64())),
    }), os.path.join(out, "embeddings.parquet"), compression="snappy")
    with open(os.path.join(out, "probes.txt"), "w") as f:
        for q in range(16):
            c = int(rng.integers(0, CLUSTERS))
            v = np.round(centers[c] + rng.normal(0.0, 0.05, size=EMB_DIM), 6)
            f.write(f"{q}\t{c}\t" + ",".join(repr(float(x)) for x in v) + "\n")
    # BM25 queries: three mid-frequency terms each, no term in two queries
    # (Search.bm25TopK scores a term that two queries of one batch share
    # as tf 0 for the earlier query)
    terms = [words[int(t)] for t in rng.choice(np.arange(50, 2000), 8 * 3, replace=False)]
    with open(os.path.join(out, "queries.txt"), "w") as f:
        for q in range(8):
            f.write(f"{q}\t{' '.join(terms[3 * q:3 * q + 3])}\n")
    with open(os.path.join(out, "titles.txt"), "w") as f:
        f.writelines(t + "\n" for t in titles)
    with open(os.path.join(out, "families.txt"), "w") as f:
        for fam, kind in families:
            f.write(kind + "\t" + ",".join(map(str, fam)) + "\n")
    n_members = sum(len(fam) - 1 for fam, _ in families)
    write_kv(os.path.join(out, "truth.txt"), [
        ("docs", n_docs),
        ("families", len(families)),
        ("exact_families", sum(1 for _, k in families if k == "exact")),
        ("planted_members", n_members),
        ("near_dup_share", f"{n_members / n_docs:.6f}"),
        ("survivors", n_docs - n_members),
        ("survivor_id_sum", sum(range(n_docs)) - sum(sum(fam[1:]) for fam, _ in families)),
        ("exact_survivors", n_docs - sum(len(fam) - 1 for fam, k in families if k == "exact")),
        ("clusters", CLUSTERS),
        ("title_len", TITLE_LEN),
        ("parts", N_PARTS),
    ] + [(f"tokens.{lang}", sum(len(toks[i]) for i in range(n_docs) if LANGS[langs[i]] == lang))
         for lang in LANGS]
      + [(f"part_docs.{k}", int((parts == k).sum())) for k in range(N_PARTS)]
      + [(f"part_bytes.{k}", sum(len(texts[i].encode()) for i in range(n_docs) if parts[i] == k))
         for k in range(N_PARTS)]
      + [("doc_parts", "".join(str(int(x)) for x in parts))])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pu_mapreduce", "curate_batch", "index_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, required=True, help="corpus size (unused by pu_mapreduce)")
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    # one stream per input family; both corpus workloads share a corpus law
    stream = 1 if a.workload == "pu_mapreduce" else 2
    rng = np.random.default_rng([a.seed % (1 << 63), stream])
    if a.workload == "pu_mapreduce":
        gen_pu(rng, a.out)
    else:
        gen_corpus(rng, a.out, a.docs)


if __name__ == "__main__":
    main()
