"""The benchmark workloads and the traced per-layer runs behind them.

Each workload is a closed loop with one client: the next operation starts
when the previous one has finished. Both run on local[nproc].

- code_corpus: `run_dataframe_pipeline` over `generate_corpus(n, seed)` —
  long files (200-8,000 chars) with planted exact / type-2 / type-3 clones
  and the boilerplate hot-key family. Few candidates are noise, and the
  boilerplate hub exercises LSH skew capping and CC rounds. At 800 files
  Spark job overhead bounds a pass. The north-rule workload.
- query_mix: one pass over ten of the `bench.py` headline operator
  queries, fixed order — the only workload that runs
  `ops.relational`, `ops.similarity`, `ops.textops` and `ops.spans`. Its
  traced run adds `neardup_clusters_documents` over the mix's short
  word-salad documents (cheap signatures, ~all candidates reach the Python
  verify worker — the opposite mix to code_corpus) and rebuilds it stage
  by stage.

The mix tables do not depend on the seed: their DuckDB oracle rows are
stored in `expected/` (see make_expected.py).
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

import checks
import data

FIXED_SEED = 0
N_CODE_FILES = 800
# the near-dup oracle SQL takes ~6 min in DuckDB at 500 documents
MIX_TABLES = dict(sf=0.004, docs=500, events=4000, users=100, vectors=200)
# bench.py's headline operator queries in its order, less three relational
# ones whose operator shape another query already covers
# (revenue_by_nation ~ q3_revenue_topk, events_daily_agg ~ q1_pricing_summary,
# window_top3_orders_per_cust ~ sessionize_events): with them a run took
# 74 s on a slow host, which 22 runs per workload cannot afford
MIX = [
    "q1_pricing_summary", "q3_revenue_topk", "sessionize_events",
    "doc_quality", "exact_dedup_clusters", "ngram_jaccard_pairs",
    "embedding_topk_cosine", "embedding_ann_lsh", "embedding_ann_ivf",
    "doc_dup_span_stats",
]
# bench.py's 14th headline query runs once, oracle-checked, in each traced
# query_mix run; in every pass it would not fit the run budget
NEARDUP = "neardup_clusters_documents"
BREAKDOWN_STAGES = ("exact", "signatures", "candidates", "prepare_pairs",
                    "verify", "cluster")
# store cycle of the traced code_corpus run
STORE_FILES = 100
STORE_COMPACT_SEGMENTS = 2


@dataclass
class OpResult:
    name: str
    wall_s: float
    ok: bool
    info: dict = field(default_factory=dict)


def registry() -> dict:
    from dedup.ops import dedup_queries, relational, similarity, spans, textops

    merged: dict = {}
    for mod in (dedup_queries, textops, spans, similarity, relational):
        merged.update(mod.QUERIES)
    return merged


def mix_tables() -> dict[str, pd.DataFrame]:
    t = data.tpch(MIX_TABLES["sf"], FIXED_SEED)
    t["documents"] = data.documents(MIX_TABLES["docs"], FIXED_SEED)
    t["events"] = data.events(MIX_TABLES["events"], MIX_TABLES["users"],
                              FIXED_SEED)
    t["embeddings"] = data.embeddings(MIX_TABLES["vectors"], FIXED_SEED)
    return t


def corpus_truth(files, truth_pairs) -> checks.CorpusTruth:
    """Planted truth keyed by the doc_id Spark assigns to `files`."""
    from pyspark.sql import functions as F

    keys = files.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        F.concat_ws("//", "repo", "path", "commit").alias("k"),
        F.sha2("content", 256).alias("sha"),
    ).toPandas()
    return checks.CorpusTruth(keys, truth_pairs)


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class CodeCorpus:
    name = "code_corpus"

    def __init__(self, seed: int, work: Path, cores: int):
        from dedup.config import DedupConfig

        self.seed = seed
        self.work = work
        self.cores = cores
        self.config = DedupConfig(shuffle_partitions=cores)

    def prepare(self, spark) -> None:
        from dedup.corpus import generate_corpus

        corpus = generate_corpus(N_CODE_FILES, seed=self.seed)
        self.files = (spark.createDataFrame(corpus.files)
                      .repartition(self.cores).localCheckpoint(eager=True))
        self.truth = corpus_truth(self.files, corpus.truth_pairs)

    @property
    def input_docs(self) -> int:
        return N_CODE_FILES

    def run_pass(self, spark) -> list[OpResult]:
        from dedup.pipeline import run_dataframe_pipeline

        wall, out = _timed(lambda: run_dataframe_pipeline(
            self.files, self.config).select("doc_id", "cluster_id").toPandas())
        s = self.truth.score(out)
        ok = s["recall"] >= checks.MIN_RECALL and s["exact_groups_split"] == 0
        return [OpResult("run_dataframe_pipeline", wall, ok, s)]

    def breakdown(self, spark, tracer):
        from dedup.stages import cluster as SC
        from dedup.stages import exact as SE

        reps_fn = lambda: SE.representatives(  # noqa: E731
            SE.hash_content(self.files))
        exact_fn = lambda: SE.exact_clusters(  # noqa: E731
            SE.hash_content(self.files))

        def check(labels, wall: float) -> OpResult:
            out = SC.assign_clusters(exact_fn(), labels).select(
                "doc_id", "cluster_id").toPandas()
            s = self.truth.score(out)
            ok = (s["recall"] >= checks.MIN_RECALL
                  and s["exact_groups_split"] == 0)
            return OpResult("stage_breakdown", wall, ok, s)

        return stage_breakdown(spark, tracer, self.config, reps_fn, exact_fn,
                               self.config.shuffle_partitions, check)


class QueryMix:
    """Fixed tables; every query's rows are checked against the stored
    DuckDB oracle rows."""

    name = "query_mix"
    queries = MIX

    def __init__(self, seed: int, work: Path, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        fp, self.expected = checks.load_expected(self.name)
        self._fingerprint = fp
        self.queries_fns = {q: registry()[q][0]
                            for q in self.queries + [NEARDUP]}

    tables = staticmethod(mix_tables)

    def prepare(self, spark) -> None:
        tables = self.tables()
        if checks.input_fingerprint(tables) != self._fingerprint:
            raise RuntimeError(
                f"{self.name}: generated inputs differ from the ones "
                "expected/ was made from; rerun perfbench/make_expected.py")
        self.input_dir = self.work / "tables"
        shutil.rmtree(self.input_dir, ignore_errors=True)
        data.write_tables(tables, self.input_dir)
        self.n_docs = len(tables["documents"])

    @property
    def input_docs(self) -> int:
        return self.n_docs

    def run_pass(self, spark) -> list[OpResult]:
        return self.run_queries(spark, self.queries)

    def run_queries(self, spark, queries: list[str]) -> list[OpResult]:
        outs = []
        for q in queries:
            wall, df = _timed(
                lambda q=q: self.queries_fns[q](spark, str(self.input_dir))
                .toPandas())
            outs.append((q, wall, df))
        # checks after the pass: the oracle comparison is never timed
        res = []
        for q, wall, df in outs:
            mm = checks.mismatch_rows(df, self.expected[q])
            res.append(OpResult(q, wall, mm == 0, {"oracle_mismatch_rows": mm}))
        return res

    def breakdown(self, spark, tracer):
        """Stage rebuild of the near-dup query over the mix's documents."""
        from dedup.ops import load_table
        from dedup.ops.dedup_queries import DOC_CFG
        from pyspark.sql import functions as F

        reps_fn = lambda: load_table(  # noqa: E731
            spark, str(self.input_dir), "documents").select(
                "doc_id", F.col("text").alias("content"))
        return stage_breakdown(spark, tracer, DOC_CFG, reps_fn, None, None)


WORKLOADS = {w.name: w for w in (CodeCorpus, QueryMix)}


def stage_breakdown(spark, tracer, config, reps_fn, exact_fn,
                    verify_partitions, check=None):
    """The near-dup pipeline rebuilt stage by stage, one materialisation at
    each boundary (the `bench_extra.py --breakdown` protocol), with the
    verify layout of the flow it mirrors. Returns the stage metrics, the
    screened pair batch for the verify worker, the config, and the result
    of `check(labels, summed stage walls)` (untimed) when given."""
    from dedup.stages import cluster as SC
    from dedup.stages import minhash_lsh as SM
    from dedup.stages import simhash as SS
    from dedup.stages import verify as SV
    from pyspark.sql import functions as F

    m: dict[str, float] = {}
    cached = []

    def stage(name: str, build, group: str | None = None):
        with tracer.job_group(f"stages.{group or name}"), \
                tracer.span(f"stages.{name}"):
            t0 = time.perf_counter()
            df = build().persist()
            n = df.count()
            m[f"stages.{name}.s"] = time.perf_counter() - t0
        cached.append(df)
        return df, n

    if exact_fn is not None:
        def exact():
            exact_fn().persist().count()
            return reps_fn()
        reps, m["stages.exact.reps"] = stage("exact", exact)
    else:
        reps = reps_fn().persist()
        cached.append(reps)
        m["stages.exact.reps"] = reps.count()
    sigs, _ = stage("signatures", lambda: SM.joint_signatures(
        reps, config, with_fp=True))
    e_lsh = SM.candidate_pairs(SM.band_rows(sigs), config, dedup=False)
    e_sim = SS.candidate_pairs(sigs.select("doc_id", "simhash", "blocks"),
                               config, dedup=False)
    edges, m["candidates.union"] = stage("candidates", lambda: e_lsh.unionByName(
        e_sim).dropDuplicates(["src", "dst"]))
    with tracer.job_group("stages.candidates"):
        m["candidates.lsh"] = e_lsh.dropDuplicates(["src", "dst"]).count()
        m["candidates.simhash"] = e_sim.dropDuplicates(["src", "dst"]).count()
    prepared, m["pairs.screened"] = stage("prepare_pairs", lambda: SV.prepare_pairs(
        edges, reps, sigs, config, fps=sigs.select("doc_id", "fp", "nlen")),
        group="verify")
    verified, m["edges.accepted"] = stage("verify", lambda: SV.verify_edges(
        prepared, config, num_partitions=verify_partitions
    ).where("accepted"))
    with tracer.job_group("stages.cluster"), tracer.span("stages.cluster"):
        t0 = time.perf_counter()
        labels, rounds = SC.connected_components(verified)
        sizes = (reps.select("doc_id").join(labels, "doc_id", "left")
                 .select(F.coalesce("cluster_id", "doc_id").alias("c"))
                 .groupBy("c").count().toPandas()["count"])
        m["stages.cluster.s"] = time.perf_counter() - t0
    m["cluster.cc_rounds"] = rounds
    m["cluster.n_clusters"] = len(sizes)
    m["cluster.largest"] = int(sizes.max()) if len(sizes) else 0
    m["funnel.screen_pass_ratio"] = (
        m["pairs.screened"] / m["candidates.union"]
        if m["candidates.union"] else 0.0)
    m["funnel.verify_yield"] = (
        m["edges.accepted"] / m["pairs.screened"] if m["pairs.screened"]
        else 0.0)
    ops = []
    with tracer.job_group("stages.record"):
        pairs = prepared.toPandas()
        if check is not None:
            ops.append(check(labels, sum(
                m[f"stages.{s}.s"] for s in BREAKDOWN_STAGES if
                f"stages.{s}.s" in m)))
    for df in cached:
        df.unpersist()
    return m, pairs, config, ops


def _disk(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def store_cycle(spark, seed: int, cores: int, work: Path,
                tracer) -> tuple[dict[str, float], list[OpResult]]:
    """Checkpointed `Pipeline.run` over a small corpus into a fresh
    work_dir, then a resumed `Pipeline.run` that skips every stage. A small
    `compact_segments` makes the control tables fold inside the run. The
    final clusters are checked against the planted truth.

    `Pipeline.ingest` is not run: one ingest of a few files into this store
    takes 40-70 s on a 4-core host, which the per-run time limit cannot
    hold beside the rest of the traced run."""
    from dedup.config import DedupConfig
    from dedup.corpus import generate_corpus
    from dedup.incremental import read_clusters
    from dedup.pipeline import STAGES, Pipeline

    config = DedupConfig(shuffle_partitions=cores,
                         compact_segments=STORE_COMPACT_SEGMENTS)
    wd = work / "store"
    shutil.rmtree(wd, ignore_errors=True)
    corpus = generate_corpus(STORE_FILES, seed=seed)
    files = corpus.files
    m: dict[str, float] = {}

    pipe = Pipeline(spark, config, wd)
    with tracer.job_group("store"), tracer.span("pipeline.run"):
        m["pipeline.store_run_s"], _ = _timed(
            lambda: pipe.run(spark.createDataFrame(files)))
    for st in STAGES:
        m[f"pipeline.{st}.wall_s"] = 0.0
    for r in pipe.results:
        m[f"pipeline.{r.name}.wall_s"] = r.wall_s
    m["storage.files_written"], m["storage.bytes_written"] = _disk(wd)
    m["storage.bytes_per_input_byte"] = (
        m["storage.bytes_written"] / int(files["content"].str.len().sum()))
    with tracer.job_group("resume"), tracer.span("pipeline.run"):
        m["pipeline.resume_s"], _ = _timed(
            lambda: Pipeline(spark, config, wd).run(
                spark.createDataFrame(files)))

    with tracer.job_group("store.check"):
        truth = corpus_truth(spark.createDataFrame(files), corpus.truth_pairs)
        clusters = read_clusters(spark, pipe.store).select(
            "doc_id", "cluster_id").toPandas()
    s = truth.score(clusters)
    ok = s["recall"] >= checks.MIN_RECALL and s["exact_groups_split"] == 0
    return m, [OpResult("store_cycle", m["pipeline.store_run_s"], ok, s)]
