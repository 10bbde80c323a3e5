"""Seeded corpus generator for the curation benchmark.

Writes `documents.parquet` and `embeddings.parquet` in the layout of the
test fixtures (same column names and types, `lang`/`source`/`label`
domains, dense ids from 0, 64-d float vectors), so every registered
query reads the generated tables unchanged. The same seed and parameters
always give byte-identical tables.

The properties the dedup and selection operators react to are explicit
parameters (see `workloads.json`, which also records where each value
comes from):

- `n_docs`, `n_vecs`: table sizes.
- `vocab`, `zipf_s`: vocabulary size and Zipf skew of word frequencies.
  The fixture's 31 words (stopwords and language markers included) head
  the ranking, so quality and language scoring keep firing.
- `words_min`, `words_max`: document length in words (uniform).
- `exact_dup_share`: share of documents that copy an earlier document's
  text verbatim.
- `near_family_share`, `near_family_max`, `near_edit_rate`: share of
  documents that belong to near-duplicate families, the largest family
  size, and the share of words each member rewrites from its base text.
- `lang_weights`: language skew.
- `clusters`, `cluster_spread`: embedding cluster count (the `label`
  domain) and the noise around each centre.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_WORDS = (
    "the a and of to spark window merge table column vector stream value "
    "data small join filter big group hash customer sort order slow line "
    "part fast row agg key query scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
SOURCES = [f"src{i}" for i in range(20)]
DIM = 64


def _vocabulary(rng, size):
    words = list(FIXTURE_WORDS)
    seen = set(words)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(2, 11))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words[:size], dtype=object)


def _texts(rng, p):
    n = p["n_docs"]
    vocab = _vocabulary(rng, p["vocab"])
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** p["zipf_s"]
    weights /= weights.sum()
    lengths = rng.integers(p["words_min"], p["words_max"] + 1, size=n)
    tokens = rng.choice(len(vocab), size=int(lengths.sum()), p=weights)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs = [tokens[bounds[i]:bounds[i + 1]] for i in range(n)]

    # Near-duplicate families: a base document and members that rewrite
    # a share of its words. Families are laid out over random ids so a
    # family's smallest id (its keeper) is not always the base.
    order = rng.permutation(n)
    n_family = int(n * p["near_family_share"])
    pos = 0
    families = 0
    while pos < n_family:
        size = int(rng.integers(2, p["near_family_max"] + 1))
        ids = order[pos:pos + size]
        base = docs[ids[0]]
        for i in ids[1:]:
            member = base.copy()
            edits = rng.random(len(member)) < p["near_edit_rate"]
            edits[int(rng.integers(0, len(member)))] = True
            member[edits] = rng.choice(len(vocab), size=int(edits.sum()), p=weights)
            docs[i] = member
        pos += size
        families += 1

    texts = [" ".join(vocab[d]) for d in docs]
    # Exact duplicates copy an earlier or later document verbatim,
    # after the families are laid out, so copies of family members
    # also exercise the exact stage in front of the near-dup stage.
    n_exact = int(n * p["exact_dup_share"])
    for i in order[n_family:n_family + n_exact]:
        texts[i] = texts[int(rng.integers(0, n))]
    return texts, families


def generate(out_dir, seed, p):
    """Write both tables for `seed` under `out_dir`; return a summary."""
    rng = np.random.default_rng(seed)
    texts, families = _texts(rng, p)
    n = len(texts)
    lw = np.array([p["lang_weights"][lang] for lang in LANGS], dtype=float)
    langs = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), size=n, p=lw / lw.sum())]
    sources = np.array(SOURCES, dtype=object)[np.arange(n) % len(SOURCES)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(sources.tolist(), pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, f"{out_dir}/documents.parquet")

    m, k = p["n_vecs"], p["clusters"]
    centres = rng.normal(0.0, 1.0, size=(k, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, k, size=m).astype(np.int32)
    vecs = centres[labels] * 0.5 + rng.normal(0.0, p["cluster_spread"], size=(m, DIM))
    vecs = vecs.astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, m * DIM + 1, DIM, dtype=np.int32)),
            pa.array(vecs.reshape(-1))),
        "label": pa.array(labels),
    })
    pq.write_table(embs, f"{out_dir}/embeddings.parquet")
    return {"docs": n, "distinct_texts": len(set(texts)),
            "near_families": families, "vecs": m}
