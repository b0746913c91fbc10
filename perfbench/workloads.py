"""The ``ingest`` and ``curate`` workloads: a single closed-loop client
driving kaer_spark's public ``Collection`` API, its kNN operators and the
registry's curation calls. Every query result is checked against a numpy
brute-force oracle over what the store holds, and every curation stage
against its DuckDB twin in ``__spark_entry__.oracle_sql()``."""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import corpus

#: IVF geometry: deterministic (smallest-id sample) centroids, 16 cells
IVF_CELLS = 16
#: warm-up probe: exact queries (to warm their plans), then approximate ones
#: whose recall is the run's ``approx_recall_at_10``
PROBE_EXACT = 1
PROBE_APPROX = 4
INGEST_LOADED = 4000
INGEST_BATCH = 20
#: untimed inserts after the probe: the first one pays the first index
#: catch-up and the JIT warm-up of the write path
INGEST_WARMUP_STEPS = 1
#: an ingest run times at least this many steps, however short --seconds
INGEST_MIN_STEPS = 3
#: exact + approximate query pairs after each insert: with 3 timed steps,
#: 6 samples of each
INGEST_QUERIES_PER_STEP = 2
#: the curate stages: registry calls with a DuckDB twin, reaching pipelines,
#: operators.sampling, operators.dedup with the fphash Arrow UDFs,
#: operators.similarity and streaming.ingest
CURATE_STAGES = (
    "training_mix_packed", "token_budget_mix", "dedup_against",
    "ivf_knn_join", "streaming_dedup_against",
)
#: queries after the curation pass, every other one approximate: at least
#: 5 of each, more while --seconds last
CURATE_MIN_QUERIES = 10


class Snapshot:
    """What the store holds, kept beside it by the benchmark: ids in insert
    order, float32 embeddings (computed locally with the collection's own
    provider when none are given), and the metadata the filters read."""

    def __init__(self, provider=None, dim: int | None = None):
        self.provider = provider
        self.texts: list[str] = []
        self.metas: list[dict] = []
        self.emb = np.zeros((0, dim or provider.dim))
        self.cols = {"lang": np.array([], dtype=object), "source": np.array([], dtype=object),
                     "n_chars": np.array([], dtype=np.int64)}

    def add(self, texts: list[str], metas: list[dict], vecs=None) -> None:
        self.texts += texts
        self.metas += metas
        if vecs is None:
            vecs = self.provider.embed(texts)
        vecs = np.asarray(vecs, dtype=np.float32)
        self.emb = np.vstack([self.emb, vecs.astype(np.float64)])
        for key in self.cols:
            self.cols[key] = np.concatenate(
                [self.cols[key], np.array([m[key] for m in metas], dtype=self.cols[key].dtype)]
            )

    def __len__(self) -> int:
        return len(self.texts)

    def user_bytes(self) -> int:
        return sum(
            len(t.encode()) + len(json.dumps(m).encode())
            for t, m in zip(self.texts, self.metas)
        )

    def match(self, filt: dict) -> np.ndarray:
        """Rows a Mongo-style filter admits (the operators the F-Q2 matrix
        uses; the fields hold no nulls)."""
        mask = np.ones(len(self), dtype=bool)
        for key, val in filt.items():
            if key == "$and":
                for sub in val:
                    mask &= self.match(sub)
            elif key == "$or":
                mask &= np.logical_or.reduce([self.match(sub) for sub in val])
            elif isinstance(val, dict):
                col = self.cols[key]
                for op, v in val.items():
                    mask &= {
                        "$eq": lambda: col == v,
                        "$ne": lambda: col != v,
                        "$in": lambda: np.isin(col, v),
                        "$gt": lambda: col > v,
                    }[op]()
            else:
                mask &= self.cols[key] == val
        return mask

    def distances(self, q: list[float]) -> np.ndarray:
        """Squared L2 to every row, summed dimension by dimension in double
        precision: the same order of additions the engine uses."""
        acc = np.zeros(len(self))
        for j, qj in enumerate(q):
            d = self.emb[:, j] - qj
            acc = acc + d * d
        return acc

    def topk(self, q: list[float], k: int, filt: dict):
        """Exact filtered top-k: ascending distance, ties by ascending id."""
        d = self.distances(q)
        ids = np.flatnonzero(self.match(filt))
        order = np.lexsort((ids, d[ids]))[:k]
        return ids[order].tolist(), d[ids[order]].tolist(), d, int(ids.size)


def check_query(snap: Snapshot, query: dict, rows) -> tuple[bool, float | None]:
    """(correct, recall). Exact results must equal the oracle's ids and
    distances in order. Approximate results must be rows the filter admits,
    with true distances, in (distance, id) order, k of them when k match;
    their recall against the exact top-k is reported, not judged."""
    q = query["vector"] if "vector" in query else snap.provider.embed([query["text"]])[0]
    want_ids, want_d, dist, n_match = snap.topk(q, query["k"], query["filter"])
    ids = [int(r["_m_id"]) for r in rows]
    got_d = [float(r["_dist"]) for r in rows]
    if not query["approximate"]:
        return ids == want_ids and got_d == want_d, None
    mask = snap.match(query["filter"])
    ok = (
        len(ids) == min(query["k"], n_match)
        and all(0 <= i < len(snap) and mask[i] and dist[i] == g for i, g in zip(ids, got_d))
        and list(zip(got_d, ids)) == sorted(zip(got_d, ids))
    )
    recall = len(set(ids) & set(want_ids)) / len(want_ids) if want_ids else 1.0
    return ok, recall


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


@dataclass
class Result:
    """What one run measured."""

    attempted: int = 0
    failed: int = 0
    latencies: dict[str, list[float]] = field(default_factory=dict)
    recalls: list[float] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    stored_bytes_per_user_byte: float = 0.0
    data_files: int = 0
    failures: list[str] = field(default_factory=list)

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def time(self, kind: str, seconds: float) -> None:
        self.latencies.setdefault(kind, []).append(seconds * 1000)


class Workload:
    """Query plumbing shared by both workloads."""

    def __init__(self, spark, root: str, tracer, seed: int, seconds: float):
        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.result = Result()
        self.texts, self.metas = corpus.documents()

    def search(self, query: dict):
        """The DataFrame that answers ``query``, with ``_m_id`` and ``_dist``."""
        raise NotImplementedError

    def run_query(self, snap: Snapshot, query: dict, op_id: str, record: bool) -> float | None:
        """Run, time (when ``record``) and check one query; return the
        recall of an approximate query."""
        kind = "approx" if query["approximate"] else "query"
        ok, recall = False, None
        try:
            with self.tracer.op(op_id, kind if record else f"warm.{kind}"):
                t0 = time.perf_counter()
                df = self.search(query)
                with self.tracer.span("pyspark.collect"):
                    rows = df.collect()
                elapsed = time.perf_counter() - t0
                self.tracer.record_plan(df)
            if record:
                self.result.time(kind, elapsed)
            ok, recall = check_query(snap, query, rows)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.result.failures.append(f"{op_id}: {type(e).__name__}: {e}"[:300])
        self.result.count(ok, f"{op_id} {json.dumps(query['filter'])} k={query['k']}")
        return recall

    def probe(self, snap: Snapshot, vectors: bool = False) -> None:
        """Warm-up queries from the fixed probe stream; the recall of the
        approximate ones is the run's ``approx_recall_at_10``."""
        for i, query in enumerate(corpus.probe_stream(PROBE_EXACT, PROBE_APPROX, vectors)):
            recall = self.run_query(snap, query, f"w{i}", record=False)
            if recall is not None:
                self.result.recalls.append(recall)


class Ingest(Workload):
    """Inserts of 20 unseen documents into a 4,000-document collection that
    owns an IVF index, each followed by exact queries (k cycling over 1, 10
    and 50) and approximate queries on the grown collection, under the F-Q2
    filter kinds in rotation. Exercises the write path (id assignment,
    embedding in ``mapInPandas``, parquet append, catalog commit, index
    catch-up) beside kaer's read path, while the data-file count grows."""

    def run(self) -> Result:
        loaded, order = corpus.ingest_split(self.seed, INGEST_LOADED)
        load_texts = [self.texts[i] for i in loaded]
        load_metas = [self.metas[i] for i in loaded]
        coll = self.coll = self.build(load_texts, load_metas)
        snap = Snapshot(coll.ctx.provider_for(coll.meta))
        snap.add(load_texts, load_metas)
        batches = [order[i:i + INGEST_BATCH] for i in range(0, len(order), INGEST_BATCH)]
        t0 = time.perf_counter()
        self.probe(snap)
        for step in range(INGEST_WARMUP_STEPS):
            self.insert(coll, snap, batches[step], f"w{step}.insert", record=False)
        self.result.setup["warmup_s"] = time.perf_counter() - t0
        deadline = time.perf_counter() + self.seconds
        step = INGEST_WARMUP_STEPS
        while (time.perf_counter() < deadline or step < INGEST_WARMUP_STEPS + INGEST_MIN_STEPS) \
                and step < len(batches):
            self.step(coll, snap, batches[step], step)
            step += 1
        self.verify_stored(coll, snap)
        self.result.stored_bytes_per_user_byte = dir_bytes(coll.path) / snap.user_bytes()
        self.result.data_files = len(coll.data_files())
        self.result.latencies["op"] = self.result.latencies.get("insert", [])
        return self.result

    def build(self, texts: list[str], metas: list[dict]):
        """Build the collection: create it, insert the documents, build the
        IVF index; record the time of each part."""
        from kaer_spark.context import KaerContext

        coll = KaerContext(self.spark, os.path.join(self.root, "build")).create_collection("docs")
        with self.tracer.op("build.insert", "load"):
            t0 = time.perf_counter()
            coll.insert(texts, metas)
            insert_s = time.perf_counter() - t0
        with self.tracer.op("build.index", "index"):
            t0 = time.perf_counter()
            coll.build_index(cells=IVF_CELLS, fit="deterministic")
            index_s = time.perf_counter() - t0
        self.result.setup.update(collection_build_s=insert_s, index_build_s=index_s)
        return coll

    def verify_stored(self, coll, snap: Snapshot) -> None:
        """The collection holds exactly the snapshot: dense ids in insert
        order, each with its text and the locally computed embedding."""
        from kaer_spark.context import DOC_COL, EMB_COL, ID_COL

        pdf = coll.df().select(ID_COL, DOC_COL, EMB_COL).toPandas().sort_values(ID_COL)
        ok = (
            coll.count() == len(snap)
            and pdf[ID_COL].tolist() == list(range(len(snap)))
            and pdf[DOC_COL].tolist() == snap.texts
            and np.array_equal(np.stack(pdf[EMB_COL].to_numpy()).astype(np.float64), snap.emb)
        )
        self.result.count(ok, "final collection holds every inserted document")

    def search(self, query: dict):
        return self.coll.query(
            document=query["text"], k=query["k"], filter=query["filter"],
            approximate=query["approximate"],
        )

    def insert(self, coll, snap: Snapshot, batch, op_id: str, record: bool) -> tuple[list, list]:
        """Insert one batch, timed when ``record``; it must return the next
        dense id. Returns the batch's texts and metadata."""
        texts = [self.texts[i] for i in batch]
        metas = [self.metas[i] for i in batch]
        ok = False
        try:
            with self.tracer.op(op_id, "insert" if record else "warm.insert"):
                t0 = time.perf_counter()
                first = coll.insert(texts, metas)
                elapsed = time.perf_counter() - t0
            if record:
                self.result.time("insert", elapsed)
            ok = first == len(snap)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.result.failures.append(f"{op_id}: {type(e).__name__}: {e}"[:300])
        self.result.count(ok, f"{op_id} returned the next dense id")
        snap.add(texts, metas)
        return texts, metas

    def step(self, coll, snap: Snapshot, batch, step: int) -> None:
        """Insert one batch, then run read-your-write queries:
        ``INGEST_QUERIES_PER_STEP`` new texts, each as an exact and an
        approximate query under a filter its document passes, so the
        brute-force top-k over the grown snapshot includes it. Time all
        of them."""
        texts, metas = self.insert(coll, snap, batch, f"s{step}.insert", record=True)
        for m in range(INGEST_QUERIES_PER_STEP):
            n = step * INGEST_QUERIES_PER_STEP + m
            j = n % len(batch)
            filt = corpus.ryw_filter(self.seed, n, metas[j])
            for approx in (False, True):
                k = corpus.APPROX_K if approx else corpus.EXACT_KS[n % len(corpus.EXACT_KS)]
                query = {"text": texts[j], "k": k, "filter": filt, "approximate": approx}
                self.run_query(snap, query, f"s{step}.{'approx' if approx else 'query'}{m}", record=True)


def cell_str(x) -> str:
    """One result cell as text: floats by ``repr``, so any bit of
    difference shows; None and NaN alike as ``<null>``."""
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return "<null>"
    if isinstance(x, float):
        return repr(x)
    if isinstance(x, (list, tuple)):
        return "[" + ", ".join(map(cell_str, x)) + "]"
    return str(x)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple[str, ...]]]:
    """Rows in an order-free form: columns sorted by name, cells as text,
    rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], sorted(tuple(cell_str(r[i]) for i in order) for r in rows)


class Curate(Workload):
    """One batch curation pass over a 500-document corpus, followed by exact
    and approximate filtered kNN queries over the same corpus through the
    operators ``Collection.query`` runs on: ``operators.knn.exact_knn`` and
    ``operators.index_store.ivf_index_topk`` on an IVF index built at
    set-up. The pass runs every stage of ``CURATE_STAGES`` once, in a
    seed-chosen order, through the registry's library calls: executor work
    (shuffles, text and hash expressions, the ``fphash`` Arrow UDFs, a
    streaming micro-batch). It is timed as a batch job meets it, the first
    run of each stage in the session: the session is warm from the index
    build, the stages' own plans are not. The recall probe runs after the
    pass, so the timed queries after it run on warm query plans."""

    def run(self) -> Result:
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        from kaer_spark.operators.index_store import build_ivf_index

        self.tables = os.path.join(self.root, "curate-tables")
        os.makedirs(self.tables)
        t0 = time.perf_counter()
        corpus.write_curate_tables(self.tables)
        self.result.setup["collection_build_s"] = time.perf_counter() - t0
        texts, metas = self.texts[:corpus.CURATE_DOCS], self.metas[:corpus.CURATE_DOCS]
        snap = Snapshot(dim=corpus.EMB_DIM)
        snap.add(texts, metas, corpus.curate_embeddings()[0])
        docs = self.spark.read.parquet(os.path.join(self.tables, "documents.parquet"))
        embs = self.spark.read.parquet(os.path.join(self.tables, "embeddings.parquet"))
        self.corpus = docs.join(embs, F.col("doc_id") == F.col("vec_id")).drop("vec_id")
        self.index = os.path.join(self.root, "curate-index")
        with self.tracer.op("build.index", "index"):
            t0 = time.perf_counter()
            build_ivf_index(self.corpus, self.index, id_col="doc_id", cells=IVF_CELLS,
                            fit="deterministic")
            self.result.setup["index_build_s"] = time.perf_counter() - t0
        self.registry = entry.queries()
        stages = corpus.stage_order(self.seed, CURATE_STAGES)
        queries = corpus.query_stream(self.seed, 1000, vectors=True)
        deadline = time.perf_counter() + self.seconds
        got = {name: self.stage(name, f"p0.{name}") for name in stages}
        self.result.time("pass", sum(self.result.latencies.get(f"stage.{name}", [0.0])[0]
                                     for name in stages) / 1000)
        t0 = time.perf_counter()
        self.probe(snap, vectors=True)
        self.result.setup["warmup_s"] = time.perf_counter() - t0
        j = 0
        while time.perf_counter() < deadline or j < CURATE_MIN_QUERIES:
            self.run_query(snap, queries[j], f"p0.q{j}", record=True)
            j += 1
        t0 = time.perf_counter()
        self.check_oracles(entry.oracle_sql(), got)
        self.result.setup["oracle_s"] = time.perf_counter() - t0
        self.result.stored_bytes_per_user_byte = dir_bytes(self.index) / dir_bytes(self.tables)
        self.result.latencies["op"] = self.result.latencies["pass"]
        return self.result

    def search(self, query: dict):
        from pyspark.sql import functions as F

        from kaer_spark.filters import compile_filter
        from kaer_spark.operators.index_store import ivf_index_topk
        from kaer_spark.operators.knn import exact_knn

        if query["approximate"]:
            df = ivf_index_topk(self.spark, self.index, query["vector"], query["k"],
                                pred=compile_filter(query["filter"]))
            dist = "_score"
        else:
            df = exact_knn(self.corpus, query["vector"], query["k"], vec_col="embedding",
                           id_col="doc_id", filter=query["filter"], keep_dist=True)
            dist = "_dist"
        return df.select(F.col("doc_id").alias("_m_id"), F.col(dist).alias("_dist"))

    def stage(self, name: str, op_id: str):
        """Run one stage, collect its rows and record its latency. Returns
        the canonical rows, or None when it raised."""
        try:
            with self.tracer.op(op_id, "stage"):
                t0 = time.perf_counter()
                with self.tracer.span(f"curate.{name}"):
                    df = self.registry[name](self.spark, self.tables)
                    with self.tracer.span("pyspark.collect"):
                        rows = df.collect()
                elapsed = time.perf_counter() - t0
                self.tracer.record_plan(df)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.result.failures.append(f"{op_id}: {type(e).__name__}: {e}"[:300])
            return None
        self.result.time(f"stage.{name}", elapsed)
        return canonical(df.columns, rows)

    def check_oracles(self, oracles: dict[str, str], reference: dict) -> None:
        """Each stage's rows must equal its DuckDB twin's rows over the same
        parquet tables, cell for cell."""
        import duckdb

        for name, got in reference.items():
            con = duckdb.connect()
            try:
                for table in ("documents", "embeddings"):
                    path = os.path.join(self.tables, f"{table}.parquet")
                    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
                rel = con.sql(oracles[name])
                want = canonical(rel.columns, rel.fetchall())
            finally:
                con.close()
            self.result.count(got is not None and got == want, f"{name} rows equal its DuckDB twin")
