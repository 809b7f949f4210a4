"""online_requests: a closed loop of small requests against a fitted
classifier, a cached corpus and a standing dedup index.

Set-up loads and caches the generated corpus and its embeddings, fits
``ml.pipeline.fit_text_classifier`` FITS times on its train split
(``fit_s`` is the median), builds the ingest gate's index with
``dedup.gate_static_index`` and serves one request of each type as
warm-up. The timed loop then serves a seed-fixed stream of requests, in
whole cycles of one request of each type, whose keys repeat in a Zipf
pattern:

- ``classify``: ``PipelineModel.transform`` on a few fresh docs;
- ``nb_classify``: ``ml.queries.nb_classify`` of a few fresh docs;
- ``ann_mmr``: ``similarity.ann_topk`` (brute force) for a few query
  vectors, then ``similarity.mmr_rerank`` over the returned pool;
- ``bm25``: ``textops.bm25_search`` of one query string;
- ``gate``: ``dedup.gate_score`` of a small batch against the index.

Checks: every response has the expected shape; the first response to each
``ann_mmr`` key matches a numpy brute-force recompute; each gate batch's
verbatim copy of a corpus doc scores Jaccard 1.0; every fit in the run
learns the same model, whose test accuracy is at least ACCURACY_FLOOR.

A traced run also ingests a separate, ten times larger generated corpus
in bulk after the loop, untimed: the curation pipeline ``dedup.curate`` →
``similarity.semdedup`` on the survivors' embeddings →
``datapipe.tokenize_pack`` per language → the packed survivors written
with ``sources.io.write_parquet``, one materialized stage at a time, so
each stage's time is its own. The ingest checks that every planted exact
duplicate and Gopher failure is dropped and that the parquet holds exactly
the kept docs.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import Bench

N_CORPUS = 1_000
#: the traced bulk ingest's corpus, ten times the served one so that data
#: volume weighs more than job count
N_INGEST = 10_000
N_CYCLES = 2_000
FITS = 2
TOP_K = 10
MMR_K = 5
#: NB on the corpus scores about 0.97 (3% of labels are flipped)
ACCURACY_FLOOR = 0.9
RATES = dict(
    exact_rate=0.05, near_rate=0.05, gopher_rate=0.05, paraphrase_rate=0.05, label_noise_rate=0.03
)
SPAN = {
    "classify": "ml.transform",
    "nb_classify": "ml.nb_classify",
    "bm25": "textops.bm25_search",
    "gate": "dedup.gate_score",
}


def _ann_truth(emb: np.ndarray, ids: np.ndarray, q: np.ndarray) -> list[list[tuple[int, float]]]:
    """Exact cosine top-k of each query row, ties to the lower id."""
    e = emb.astype(np.float64)
    e = e / np.linalg.norm(e, axis=1, keepdims=True)
    qq = q.astype(np.float64)
    qq = qq / np.linalg.norm(qq, axis=1, keepdims=True)
    out = []
    for row in qq @ e.T:
        order = np.lexsort((ids, -np.round(row, 6)))[:TOP_K]
        out.append([(int(ids[j]), round(float(row[j]), 6)) for j in order])
    return out


def run(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from pyspark_for_ebook_classification_spark.ml import pipeline as mlp
    from pyspark_for_ebook_classification_spark.ml.queries import nb_classify
    from pyspark_for_ebook_classification_spark.operators import datapipe, dedup, similarity
    from pyspark_for_ebook_classification_spark.operators.textops import bm25_search
    from pyspark_for_ebook_classification_spark.sources import load
    from pyspark_for_ebook_classification_spark.sources.io import write_parquet

    in_dir = os.path.join(b.work_dir, "in")
    os.makedirs(in_dir)

    def make():
        c = gen.make_corpus(b.seed, N_CORPUS, **RATES)
        gen.write_table(gen.documents_table(c), os.path.join(in_dir, "documents.parquet"))
        gen.write_table(gen.embeddings_table(c), os.path.join(in_dir, "embeddings.parquet"))
        return c, gen.request_payloads(b.seed, c), gen.request_stream(b.seed, N_CYCLES)

    corpus, pay, stream = b.generate(make)
    input_mb = sum(os.path.getsize(os.path.join(in_dir, f)) for f in os.listdir(in_dir)) / 1e6
    b.env.update(corpus_docs=N_CORPUS, corpus_mb=input_mb)
    tr = b.tracer
    spark = None
    st: dict = {}

    def docs_frame(key: int):
        sl = pay.doc_slice(key)
        rows = list(zip(pay.docs.doc_id[sl].tolist(), pay.docs.text[sl]))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def classify(key):
        with tr.build():
            df = st["model"].transform(docs_frame(key))
        rows = df.select("doc_id", "prediction").collect()
        if len(rows) != gen.DOCS_PER_REQUEST:
            return f"classify {key}: {len(rows)} rows"

    def nb(key):
        with tr.build():
            df = nb_classify(st["train"], docs_frame(key))
        rows = df.collect()
        if len(rows) > gen.DOCS_PER_REQUEST or any(r["pred_lang"] not in gen.LANGS for r in rows):
            return f"nb_classify {key}: bad rows {rows}"

    def bm25(key):
        with tr.build():
            df = bm25_search(st["docs"], [pay.bm25_queries[key]], k=TOP_K)
        ranks = sorted(r["rank"] for r in df.collect())
        if ranks != list(range(1, len(ranks) + 1)) or len(ranks) > TOP_K:
            return f"bm25 {key}: ranks {ranks}"

    def gate(key):
        ids, texts, copies = pay.gate_batches[key]
        batch = (
            spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")
            .select("doc_id", dedup._raw_tokens_expr().alias("tokens"))
            .filter(F.size("tokens") >= 1)
            .select("doc_id", dedup._shingles_expr().alias("shingles"))
        )
        with tr.build():
            df = dedup.gate_score(dedup._gate_sig_cols(batch), st["index"])
        best = {r["doc_id"]: r["best_jaccard"] for r in df.collect()}
        if any(best.get(c) != 1.0 for c in copies):
            return f"gate {key}: planted copies {copies} scored {best}"

    checked_ann: set[int] = set()

    def ann_mmr(key):
        q = pay.query_vecs[key]
        qdf = spark.createDataFrame(
            [(j, v.tolist()) for j, v in enumerate(q)], "vec_id long, embedding array<float>"
        )
        with tr.span("similarity.ann_topk"):
            with tr.build():
                df = similarity.ann_topk(st["emb"], qdf, k=TOP_K, exclude_self=False)
            hits = df.collect()
        pool = [
            (r["query_id"], r["neighbor_id"], float(r["cosine"]), corpus.embedding[r["neighbor_id"]].tolist())
            for r in hits
        ]
        with tr.span("similarity.mmr_rerank"):
            with tr.build():
                pdf = spark.createDataFrame(
                    pool, "query_id long, cand_id long, rel double, embedding array<float>"
                )
                df = similarity.mmr_rerank(pdf, k=MMR_K)
            ranked = df.collect()
        if len(ranked) != MMR_K * len(q):
            return f"ann_mmr {key}: {len(ranked)} re-ranked rows"
        if key not in checked_ann:
            checked_ann.add(key)
            got = [
                [(r["neighbor_id"], r["cosine"]) for r in sorted(hits, key=lambda r: r["rank"]) if r["query_id"] == j]
                for j in range(len(q))
            ]
            want = _ann_truth(corpus.embedding, corpus.doc_id, q)
            for g, w in zip(got, want):
                if [i for i, _ in g] != [i for i, _ in w] or any(
                    abs(a - c) > 1e-5 for (_, a), (_, c) in zip(g, w)
                ):
                    return f"ann_mmr {key}: top-{TOP_K} {g} != numpy {w}"

    handlers = {"classify": classify, "nb_classify": nb, "ann_mmr": ann_mmr, "bm25": bm25, "gate": gate}

    def serve(kind: str, key: int):
        span = SPAN.get(kind)
        if span is None:
            return handlers[kind](key)
        with tr.span(span):
            return handlers[kind](key)

    accuracy: list[float] = []
    models: list[tuple[bytes, bytes]] = []
    fit_times: list[float] = []

    def ingest() -> None:
        """The bulk curation pass over its own generated corpus, one
        materialized stage at a time."""
        ing_dir = os.path.join(in_dir, "ingest")
        os.makedirs(ing_dir)

        def make_ingest():
            c = gen.make_corpus(b.seed, N_INGEST, **RATES)
            gen.write_table(gen.documents_table(c), os.path.join(ing_dir, "documents.parquet"))
            gen.write_table(gen.embeddings_table(c), os.path.join(ing_dir, "embeddings.parquet"))
            return c

        ing = b.generate(make_ingest)
        ing_mb = sum(os.path.getsize(os.path.join(ing_dir, f)) for f in os.listdir(ing_dir)) / 1e6
        with tr.span("sources.load"):
            raw = load(spark, ing_dir, "documents")
            raw_emb = load(spark, ing_dir, "embeddings")
        t0 = time.perf_counter()
        with tr.span("dedup.curate"):
            v = dedup.curate(raw).toPandas()
        kept = v.loc[v["final_keep"], "doc_id"]
        with tr.span("similarity.semdedup"):
            ids = spark.createDataFrame(kept.to_frame("vec_id"))
            sem = similarity.semdedup(raw_emb.join(ids, "vec_id")).select("vec_id", "keep").toPandas()
        want = sorted(sem.loc[sem["keep"], "vec_id"].tolist())
        surv = raw.join(spark.createDataFrame([(i,) for i in want], "doc_id long"), "doc_id")
        with tr.span("datapipe.tokenize_pack"):
            packed = datapipe.tokenize_pack(surv, partition_col="lang").cache()
            packed.count()
        out = os.path.join(b.work_dir, "curated")
        with tr.span("sources.write_parquet"):
            write_parquet(
                surv.join(packed.drop("lang"), "doc_id"), os.path.join(out, "documents.parquet")
            )
        packed.unpersist()
        ingest_s = time.perf_counter() - t0
        written = pq.read_table(os.path.join(out, "documents.parquet"), columns=["doc_id"])
        got = written.column("doc_id").to_pylist()
        exact = set(ing.exact_dups)
        dropped = set(v.loc[~v["final_keep"], "doc_id"].tolist())
        if sorted(got) != want:
            b.problems.append(f"ingest: wrote {len(got)} rows, kept {len(want)}")
        if exact - dropped or set(ing.gopher_fail) & set(want):
            b.problems.append(
                f"ingest: kept {len(exact - dropped)} planted exact duplicates and "
                f"{len(set(ing.gopher_fail) & set(want))} planted Gopher failures"
            )
        out_mb = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(out) for f in fs) / 1e6
        b.note("docs_per_s", N_INGEST / ingest_s, "1/s",
               f"ingest of {N_INGEST} docs ({ing_mb:.1f} MB) in {ingest_s:.2f} s")
        b.note("kept_docs", len(want), "docs", f"of {N_INGEST}")
        b.layer.update(
            {
                "sources.write_mb_per_input_mb": out_mb / ing_mb,
                "dedup.keep_ratio": len(kept) / N_INGEST,
                "dedup.planted_exact_recall": len(exact & dropped) / max(len(exact), 1),
                "similarity.semdedup_keep_ratio": len(want) / max(len(kept), 1),
            }
        )

    def build_state(s):
        nonlocal spark
        spark = s
        with tr.span("sources.load"):
            docs = load(spark, in_dir, "documents").cache()
            emb = load(spark, in_dir, "embeddings").cache()
            docs.count(), emb.count()
        train, test = mlp.split_train_test(docs)
        train = train.cache()
        train.count()
        for _ in range(FITS):
            t0 = time.perf_counter()
            with tr.span("ml.fit_text_classifier"):
                model = mlp.fit_text_classifier(train)
            fit_times.append(time.perf_counter() - t0)
            nb_model = model.stages[-1]
            models.append((nb_model.pi.toArray().tobytes(), nb_model.theta.toArray().tobytes()))
        accuracy.append(mlp.evaluate(model.transform(test))["accuracy"])
        with tr.span("dedup.gate_index"):
            index = dedup.gate_static_index(docs).localCheckpoint(eager=True)
        st.update(docs=docs, emb=emb, train=train, model=model, index=index)
        with tr.span("session.warmup"):
            for kind in handlers:
                serve(kind, 0)

    b.setup(build_state)
    if len(set(models)) != 1 or accuracy[0] < ACCURACY_FLOOR:
        b.problems.append(
            f"online_requests: {len(set(models))} distinct models in {FITS} fits, "
            f"accuracy {accuracy[0]}, floor {ACCURACY_FLOOR}"
        )

    by_kind: dict[str, list[float]] = {k: [] for k in handlers}
    for i, (kind, key) in b.timed(stream, cycle=len(gen.REQUEST_TYPES)):
        for traced in b.modes(i):
            t0 = time.perf_counter()
            try:
                with tr.op("online.request", traced=traced is not False, kind=kind, key=key):
                    problem = serve(kind, key)
            except Exception as e:  # noqa: BLE001 — a failed request counts, the loop goes on
                problem = f"{kind} {key}: {type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
            b.record(lat, traced)
            by_kind[kind].append(lat)
            if problem:
                b.fail(problem)
    if not checked_ann:
        b.problems.append("online_requests: no ann_mmr request was checked")

    b.note("fit_s", statistics.median(fit_times), "s", f"median of {FITS} fits")
    b.note("accuracy", accuracy[0], "ratio", "test split")
    timed_reqs = stream[: i + 1]
    seen, repeats = {(kind, 0) for kind in handlers}, 0  # the warm-up's requests
    for req in timed_reqs:
        repeats += req in seen
        seen.add(req)
    b.note("repeat_share", repeats / len(timed_reqs), "ratio",
           "timed requests whose (type, key) was served before, warm-up included")
    for kind, v in by_kind.items():
        if v:
            b.note(f"{kind}_p50_s", statistics.median(v), "s", f"n={len(v)}")
    if b.trace:
        with tr.op("online.ingest"):
            ingest()
        # the ingest's counters are reported on their own, not averaged
        # into the requests'
        counters = tr.ops.pop()
        b.note("ingest_idle_share", counters["idle_share"], "ratio",
               f"{counters['jobs']} jobs, {counters['tasks']:.0f} tasks")
        b.layer.update(
            {
                "session.get_spark_s": b.median_of("session.get_spark"),
                "session.warmup_s": b.median_of("session.warmup"),
                "plans.registry_load_s": b.median_of("plans.registry_load"),
                "plans.build_s": b.median_of("plans.build"),
                "sources.load_s": b.median_of("sources.load"),
                "ml.fit_text_classifier_s": statistics.median(fit_times),
                "dedup.gate_index_s": b.median_of("dedup.gate_index"),
                "ml.accuracy": accuracy[0],
                **{f"{s}_s": b.median_of(s) for s in
                   ("dedup.curate", "similarity.semdedup", "datapipe.tokenize_pack",
                    "sources.write_parquet")},
                **{f"{s}_s": b.median_of(s) for s in
                   ("ml.transform", "ml.nb_classify", "similarity.ann_topk",
                    "similarity.mmr_rerank", "textops.bm25_search", "dedup.gate_score")},
            }
        )
    return b.finish("request", "requests", len(b.latencies) / b.loop_s)
