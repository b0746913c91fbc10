"""Benchmark inputs: a fixed sf0.1-shaped document set and the seeded query
and insert streams drawn against it.

The documents follow the shape of the sf0.1 ``documents`` fixture (5,000
rows; a 30-word vocabulary, 10-100 words each; ``lang``/``source``/
``n_chars`` metadata; 5% near-duplicates tagged ``dup``). They are generated
here from one constant seed rather than read from the fixture, so a run
reads nothing outside its checkout and every run serves the same
collection. The workload seed picks everything else: held-out query texts,
filter values, the order in which the ingest workload inserts the documents
it did not load, and the order of the curate workload's stages.

The curate workload reads parquet tables in the shape of the sf fixtures'
``documents`` and ``embeddings`` (``write_curate_tables``): the first
``CURATE_DOCS`` documents, and as many 64-wide unit vectors drawn around 8
labelled centres, 5% of them near-copies of an earlier vector.
"""

from __future__ import annotations

import numpy as np

CORPUS_SEED = 42
N_DOCS = 5000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05

#: the F-Q2 filter matrix, in a fixed order so every run carries the same mix
FILTER_KINDS = ("all", "eq", "in", "gt", "and", "or", "ne")
#: k of the exact queries, cycled
EXACT_KS = (1, 10, 50)
#: every APPROX_EVERY-th query is approximate, always at k = APPROX_K
APPROX_EVERY = 2
APPROX_K = 10

#: documents (and embeddings) the curate workload reads, the sf0.01 size
CURATE_DOCS = 500
EMB_DIM = 64
EMB_CENTRES = 8


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, size=n)
    return [" ".join(rng.choice(VOCAB, size=int(m))) for m in lengths]


def documents() -> tuple[list[str], list[dict]]:
    """The benchmark's document set: texts and their metadata."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts = _texts(rng, N_DOCS)
    for i in np.flatnonzero(rng.random(N_DOCS) < DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(LANGS, size=N_DOCS, p=LANG_P)
    metas = [
        {"lang": str(lang), "source": f"src{i % N_SOURCES}", "n_chars": len(t)}
        for i, (t, lang) in enumerate(zip(texts, langs))
    ]
    return texts, metas


def make_filter(kind: str, rng: np.random.Generator, doc: dict | None = None) -> dict:
    """One filter of the given F-Q2 kind. With ``doc``, the filter is drawn
    so that the document matches it (read-your-write queries)."""
    lang = doc["lang"] if doc else str(rng.choice(LANGS))
    other = str(rng.choice([x for x in LANGS if x != lang]))
    src = doc["source"] if doc else f"src{int(rng.integers(N_SOURCES))}"
    n = int(rng.integers(60, 300))
    if doc:
        n = min(n, doc["n_chars"] - 1)
    srcs = sorted({src, f"src{int(rng.integers(N_SOURCES))}", f"src{int(rng.integers(N_SOURCES))}"})
    return {
        "all": {},
        "eq": {"lang": {"$eq": lang}},
        "in": {"source": {"$in": srcs}},
        "gt": {"n_chars": {"$gt": n}},
        "and": {"$and": [{"lang": {"$ne": other}}, {"n_chars": {"$gt": n}}]},
        "or": {"$or": [{"lang": {"$eq": lang}}, {"source": {"$eq": src}}]},
        "ne": {"lang": {"$ne": other}},
    }[kind]


def query_stream(seed: int, n: int, vectors: bool = False,
                 approx_every: int = APPROX_EVERY) -> list[dict]:
    """``n`` queries: held-out texts (or, with ``vectors``, query vectors
    drawn like the curate embeddings), the filter kinds in a seed-chosen
    rotation, exact k cycling over ``EXACT_KS``, and every
    ``approx_every``-th query approximate."""
    rng = np.random.default_rng([seed, 1])
    texts = _texts(rng, n)
    kinds = list(rng.permutation(FILTER_KINDS))
    vecs = _vectors(np.random.default_rng([seed, 6]), n) if vectors else None
    out = []
    for i, text in enumerate(texts):
        approx = i % approx_every == approx_every - 1
        out.append({
            **({"vector": vecs[i].tolist()} if vectors else {"text": text}),
            "k": APPROX_K if approx else EXACT_KS[i % len(EXACT_KS)],
            "filter": make_filter(kinds[i % len(kinds)], rng),
            "approximate": approx,
        })
    return out


def probe_stream(n_exact: int, n_approx: int, vectors: bool = False) -> list[dict]:
    """The warm-up queries, the same in every run whatever the seed:
    ``n_exact`` exact ones, then ``n_approx`` approximate ones, so the recall
    measured on the latter repeats run to run."""
    out = query_stream(CORPUS_SEED, n_exact + n_approx, vectors, approx_every=1)
    for i, query in enumerate(out[:n_exact]):
        query.update(approximate=False, k=EXACT_KS[i % len(EXACT_KS)])
    return out


def ingest_split(seed: int, n_loaded: int) -> tuple[np.ndarray, np.ndarray]:
    """Document indices: ``n_loaded`` to load at set-up, the same in every
    run so that set-up and the recall probe repeat, and the rest in the
    seed-chosen order they are inserted."""
    perm = np.random.default_rng(CORPUS_SEED).permutation(N_DOCS)
    rest = np.random.default_rng([seed, 2]).permutation(perm[n_loaded:])
    return np.sort(perm[:n_loaded]), rest


def ryw_filter(seed: int, n: int, doc: dict) -> dict:
    """The ``n``-th read-your-write filter: a filter that ``doc`` matches, of
    the ``n``-th kind in a seed-chosen rotation, so that any run of
    ``len(FILTER_KINDS)`` consecutive ones covers every kind."""
    kinds = list(np.random.default_rng([seed, 3]).permutation(FILTER_KINDS))
    return make_filter(kinds[n % len(kinds)], np.random.default_rng([seed, 3, n]), doc)


def stage_order(seed: int, stages: tuple[str, ...]) -> list[str]:
    """The curate stages in a seed-chosen order."""
    return [stages[i] for i in np.random.default_rng([seed, 4]).permutation(len(stages))]


def write_curate_tables(directory: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into
    ``directory``, with the sf fixtures' column names and types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts, metas = documents()
    texts, metas = texts[:CURATE_DOCS], metas[:CURATE_DOCS]
    ids = pa.array(range(CURATE_DOCS), pa.int64())
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [m["lang"] for m in metas],
        "source": [m["source"] for m in metas],
        "n_chars": pa.array([m["n_chars"] for m in metas], pa.int64()),
    }), f"{directory}/documents.parquet")
    vecs, labels = curate_embeddings()
    pq.write_table(pa.table({
        "vec_id": ids,
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{directory}/embeddings.parquet")


def _centres() -> np.ndarray:
    return np.random.default_rng([CORPUS_SEED, 5]).normal(size=(EMB_CENTRES, EMB_DIM))


def _vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` unit vectors around randomly chosen centres, in float64."""
    vecs = _centres()[rng.integers(0, EMB_CENTRES, size=n)] + 0.3 * rng.normal(size=(n, EMB_DIM))
    return vecs / np.linalg.norm(vecs, axis=1, keepdims=True)


def curate_embeddings() -> tuple[np.ndarray, np.ndarray]:
    """The curate ``embeddings`` table's float32 vectors, in id order, and
    their centre labels."""
    rng = np.random.default_rng([CORPUS_SEED, 7])
    labels = rng.integers(0, EMB_CENTRES, size=CURATE_DOCS)
    vecs = _centres()[labels] + 0.3 * rng.normal(size=(CURATE_DOCS, EMB_DIM))
    for i in np.flatnonzero(rng.random(CURATE_DOCS) < DUP_SHARE):
        if i > 0:
            j = int(rng.integers(0, i))
            vecs[i], labels[i] = vecs[j] + 0.01 * rng.normal(size=EMB_DIM), labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels
