#!/usr/bin/env python3
"""Generate a scale-rehearsal corpus (see SCALE.md) from the sf0.1 tables.

Usage: python3 tools/gen_sf.py <1|3|10|30> <sf0.1 dir> [<out dir>]
(out dir defaults to /tmp/sf<scale>).

Dev-side only (numpy/pyarrow/duckdb live in the system python; the
library itself never depends on them). Deterministic per scale: each
scale has its own seed in SCALES.

documents.parquet — the sf0.1 fingerprint-block (near-dup family) size
histogram replicated `repl` times, plus mega-families that exceed the
1,000 block cap on purpose (sf1: 54,500 docs). Same vocabulary and
length distribution as the sf0.1 driver corpus.

embeddings.parquet — `n_vecs` 64-dim float32 vectors, labels 0-9,
`n_clusters` planted near-dup clusters of 4 (base + sigma=0.05 noise)
plus randoms (sf1: 20,000 vectors, 600 clusters).
"""
import os
import sys
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# scale -> (seed, histogram replication, beyond-cap mega-family sizes,
#           embedding count, planted embedding clusters)
SCALES = {
    1: (20260812, 10, [2000, 2500], 20000, 600),
    3: (20260813, 30, [2000, 2500, 3000], 60000, 1800),
    10: (20260814, 100, [2000, 2500, 3000], 200000, 6000),
    30: (20260815, 300, [2000, 2500, 3000, 3500], 600000, 18000),
}

# sf0.1 fingerprint-block size histogram (computed via DuckDB; see SCALE.md)
HIST = {1: 89, 2: 38, 3: 14, 4: 15, 5: 10, 6: 8, 7: 5, 8: 10, 9: 10, 10: 7,
        11: 4, 12: 2, 13: 2, 15: 2, 16: 1, 17: 5, 18: 2, 21: 2, 22: 1, 25: 1,
        27: 1, 30: 1, 31: 1, 33: 1, 34: 1, 36: 1, 42: 1, 43: 1, 44: 1, 47: 1,
        60: 2, 63: 1, 66: 1, 68: 1, 76: 3, 81: 1, 86: 1, 87: 1, 88: 1, 90: 1,
        94: 1, 100: 1, 104: 1, 121: 1, 133: 1, 151: 1, 165: 1, 173: 1,
        190: 1, 194: 1, 197: 1, 239: 1, 240: 1, 250: 1, 315: 1}


def main():
    if len(sys.argv) not in (3, 4) or not sys.argv[1].isdigit() \
            or int(sys.argv[1]) not in SCALES:
        sys.exit(f"usage: gen_sf.py <{'|'.join(map(str, SCALES))}> "
                 "<sf0.1 dir> [<out dir>]")
    scale, src = int(sys.argv[1]), sys.argv[2]
    out = sys.argv[3] if len(sys.argv) == 4 else f"/tmp/sf{scale}"
    seed, repl, mega, m, n_clusters = SCALES[scale]

    rng = np.random.default_rng(seed)
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT text, lang, source FROM '{src}/documents.parquet'").fetch_df()
    vocab = sorted({w for t in docs["text"] for w in t.split(" ") if w})
    langs = sorted(docs["lang"].unique())
    sources = sorted(docs["source"].unique())
    wc = [len(t.split(" ")) for t in docs["text"]]

    fam_sizes = [s for size, n in HIST.items() for s in [size] * (n * repl)]
    fam_sizes += mega  # beyond-cap mega-blocks, on purpose
    rng.shuffle(fam_sizes)

    texts, doc_lang, doc_src = [], [], []
    for size in fam_sizes:
        base = list(rng.choice(vocab, size=int(rng.choice(wc))))
        lang, src_name = str(rng.choice(langs)), str(rng.choice(sources))
        for k in range(size):
            d = list(base)
            if k > 0:  # near-dup: substitute 1-3 words
                for _ in range(int(rng.integers(1, 4))):
                    d[int(rng.integers(0, len(d)))] = str(rng.choice(vocab))
            texts.append(" ".join(d))
            doc_lang.append(lang)
            doc_src.append(src_name)

    order = rng.permutation(len(texts))
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([doc_lang[i] for i in order]),
        "source": pa.array([doc_src[i] for i in order]),
        "n_chars": pa.array(np.array([len(texts[i]) for i in order],
                                     dtype=np.int64)),
    }), f"{out}/documents.parquet")
    print("docs:", len(texts))

    dim = 64
    bases = rng.normal(size=(n_clusters, dim)).astype(np.float32)
    vecs = np.empty((m, dim), dtype=np.float32)
    labels = np.empty(m, dtype=np.int32)
    for i in range(m):
        if i < n_clusters * 4:
            c = i % n_clusters
            vecs[i] = bases[c] + rng.normal(scale=0.05, size=dim).astype(np.float32)
            labels[i] = c % 10
        else:
            vecs[i] = rng.normal(size=dim)
            labels[i] = int(rng.integers(0, 10))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), f"{out}/embeddings.parquet")
    print("embeddings:", m)


if __name__ == "__main__":
    main()
