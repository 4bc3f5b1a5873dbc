"""The three workloads: staging, warm-up, one timed operation, output
checks, and a traced run with one span per layer.

Every call into the pipeline goes through the layers' public
functions. Spark is lazy, so a layer is timed around the action that
forces it: a ``noop`` write of the layer's output, or the layer's own
write. In the traced run each layer then reads a materialized copy of
the previous layer's output, made under its own ``materialize`` span.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import gen, probes
from .spans import MATERIALIZE, PROBE, Tracer

# input sizes: one operation takes a few seconds on a 4-core box, and a
# whole run (two set-ups, the timed operations, the checks) under a minute
BATCH_URLS = 5_000
BATCH_HOT = 4
BATCH_HOT_LINES = 1_000
INC_URLS = 3_000
INC_BATCH_LINES = 1_024
INC_WARM_BATCHES = 2
INC_ROUND_BATCHES = 3
INC_TRACE_BATCHES = 2
ND_DOCS = 600
MINHASH_THRESHOLD = 0.7
SIMHASH_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.95
N_SHINGLE = 3
ND_OPS = ("minhash", "simhash", "embedding")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it
    (nearest rank): ``(value, percentile, n)``. Fewer than eleven
    samples leave no such percentile; the maximum is reported as
    p100."""
    n = len(samples)
    s = sorted(samples)
    if n < 11:
        return (s[-1] if s else 0.0), 100, n
    p = math.floor(100 * (n - 10) / n)
    k = max(1, math.ceil(p * n / 100))
    return s[k - 1], p, n


@dataclass
class Check:
    """Output-check tally: failed checks, and expected items found."""
    failed: int = 0
    found: int = 0
    expected: int = 0
    notes: list = field(default_factory=list)

    def expect(self, ok: bool, note: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(note)

    @property
    def recall(self) -> float:
        return self.found / self.expected if self.expected else 0.0


class Workload:
    name = ""

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir

    def at_boundary(self, n_ops: int) -> bool:
        """Whether the timed loop may stop after ``n_ops`` operations."""
        return True

    def path(self, *parts) -> str:
        return os.path.join(self.workdir, *parts)

    def cfg(self):
        from log_ship_elastic_postfix_spark.plans.pipeline import PipelineConfig
        return PipelineConfig()


# ------------------------------------------------------------ batch_skewed
class BatchSkewed(Workload):
    """One ``run_batch`` over the seeded, hot-keyed pages table into
    the typed partitioned sink and the rejects sink, no state."""
    name = "batch_skewed"
    trace_ops = 2

    def __init__(self, seed, workdir, n_urls=BATCH_URLS, n_hot=BATCH_HOT,
                 hot_lines=BATCH_HOT_LINES):
        super().__init__(seed, workdir)
        self.spec = gen.PagesSpec(n_urls, n_hot, hot_lines, seed)
        self.n_lines = None
        self.done: list[int] = []

    def describe(self) -> dict:
        return {"urls": self.spec.n_urls, "lines": self.n_lines,
                "hot_urls": self.spec.n_hot, "hot_lines": self.spec.hot_lines}

    def stage(self, spark) -> None:
        # every exchange here is under a few MB, which AQE would merge
        # into one task; keeping 2k fold tasks lets a task holding hot
        # qids stand out (operators.assemble.task_skew)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        if self.spec.n_hot:
            self.spec.relabel = gen.place_hot(
                self.spec, int(spark.conf.get("spark.sql.shuffle.partitions")))
        self.n_lines = gen.stage_pages(spark, self.spec, self.path("pages"))
        self.parents = spark.createDataFrame(
            gen.parent_rows(self.spec), "qid string, parent string")
        self.expected = gen.expected_batch(self.spec)

    def lines(self, spark):
        from log_ship_elastic_postfix_spark.sources.pages import (
            pages_to_lines, with_batch_seq)
        return with_batch_seq(
            pages_to_lines(spark.read.parquet(self.path("pages"))), 1)

    def _run(self, spark, tag: str) -> None:
        from log_ship_elastic_postfix_spark.plans.pipeline import run_batch
        run_batch(spark, self.lines(spark), self.cfg(),
                  parent_map=self.parents,
                  sink_path=self.path("sink", tag),
                  rejects_path=self.path("rejects", tag))

    def warm(self, spark) -> None:
        self._run(spark, "warm")

    def op(self, spark, i: int) -> int:
        self._run(spark, f"op{i}")
        self.done.append(i)
        return self.spec.n_urls

    def check(self, spark) -> Check:
        c = Check()
        for i in self.done:
            self.check_sinks(spark, f"op{i}", c)
        if self.done:
            self.check_docs(spark, f"op{self.done[-1]}", c)
        return c

    def check_sinks(self, spark, tag: str, c: Check) -> None:
        from pyspark.sql import functions as F
        from log_ship_elastic_postfix_spark.operators.route import sink_counts

        got = {r["sink"]: {"doc_count": r["doc_count"],
                           "event_count": r["event_count"],
                           "final_count": r["final_count"]}
               for r in sink_counts(
                   spark.read.parquet(self.path("sink", tag))).collect()}
        c.expect(got == self.expected["sinks"],
                 f"{tag}: sink counts {got} != {self.expected['sinks']}")
        rej = {r["reject_reason"]: r["n"] for r in
               spark.read.parquet(self.path("rejects", tag))
               .groupBy("reject_reason").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
        c.expect(rej == self.expected["rejects"],
                 f"{tag}: rejects {rej} != {self.expected['rejects']}")

    def check_docs(self, spark, tag: str, c: Check) -> None:
        """Per-doc events and isFinal against the scenario table."""
        r = self.spec.relabel
        want = {}
        for u in range(self.spec.n_urls):
            events, final, _ = gen.SCENARIO_EXPECT[u % gen.N_SCENARIOS]
            if u < self.spec.n_hot:
                events += self.spec.hot_lines
            want[gen.qid_of(r(u))] = (events, final)
        got = {row["qid"]: (row["n_events"], row["isFinal"]) for row in
               spark.read.parquet(self.path("sink", tag))
               .select("qid", "n_events", "isFinal").collect()}
        c.expected += len(want)
        c.found += sum(1 for q, v in want.items() if got.get(q) == v)
        c.expect(got == want, f"{tag}: {sum(1 for q in want if got.get(q) != want[q])}"
                 " docs differ from the scenario table")

    # ---------------------------------------------------------- traced
    def traced(self, spark, tr: Tracer, out: dict) -> Check:
        sql = probes.SqlMetrics(spark)
        c = Check()
        group = "untraced"
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.monotonic()
        self._run(spark, group)
        untraced = time.monotonic() - t0
        out["plans.pipeline.jobs_per_batch"] = probes.jobs_in_group(spark, group)
        spark.sparkContext.setJobGroup("traced", "traced")
        tr.batch = "0"
        with tr.span("plans.pipeline"):
            lines_m = trace_pages(tr, sql, self.lines(spark), out)
            parsed_m, rejects_m, _ = trace_parse(tr, sql, lines_m, self.cfg(), out)
            docs_m = trace_assemble(tr, sql, parsed_m, self.cfg(), out)
            enriched_m = trace_enrich(tr, docs_m, self.parents, out)
            trace_route(tr, sql, enriched_m, rejects_m, self.cfg(), out,
                        sink=self.path("sink", "traced"),
                        rejects=self.path("rejects", "traced"))
        finish_trace(tr, untraced, out)
        for tag in ("untraced", "traced"):
            self.check_sinks(spark, tag, c)
        self.check_docs(spark, "traced", c)
        c.expect(out["operators.assemble.largest_group"]
                 == self.expected["largest_group"],
                 "largest qid group differs from the scenario table")
        return c


class Exhausted(Exception):
    """The staged input has no batch left for another operation."""


# ------------------------------------------------------------- incremental
class Incremental(Workload):
    """The log tailed as 1024-line micro-batches in arrival order, each
    through ``run_batch`` with ``StateStore`` and ``BookmarkStore``."""
    name = "incremental"
    trace_ops = 2 * INC_TRACE_BATCHES

    def __init__(self, seed, workdir, n_urls=INC_URLS,
                 batch_lines=INC_BATCH_LINES):
        super().__init__(seed, workdir)
        self.spec = gen.ArrivalSpec(n_urls, seed, batch_lines=batch_lines)
        self.n_lines = None
        self.next_batch = 0

    def describe(self) -> dict:
        return {"urls": self.spec.n_urls, "lines": self.n_lines,
                "batch_lines": self.spec.batch_lines,
                "warm_batches": INC_WARM_BATCHES}

    def stage(self, spark) -> None:
        from log_ship_elastic_postfix_spark.operators.state import StateStore
        from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore

        self.n_lines, self.docs_in_batch = gen.stage_arrivals(
            spark, self.spec, self.path("pages"))
        self.n_batches = len(self.docs_in_batch)
        self.state = StateStore(self.path("state"))
        self.bookmark = BookmarkStore(self.path("bookmark"))

    def lines(self, spark, cond):
        from log_ship_elastic_postfix_spark.sources.pages import pages_to_lines
        return pages_to_lines(spark.read.parquet(self.path("pages")).filter(cond))

    def batch_lines(self, spark, b: int):
        from pyspark.sql import functions as F
        return self.lines(spark, F.col("batch_seq") == b)

    def _commit(self, spark, b: int, state, bookmark) -> int:
        from log_ship_elastic_postfix_spark.plans.pipeline import run_batch
        group = f"batch-{b}-{id(state)}"
        spark.sparkContext.setJobGroup(group, group)
        run_batch(spark, self.batch_lines(spark, b), self.cfg(), batch_seq=b,
                  state=state, bookmark=bookmark)
        return probes.jobs_in_group(spark, group)

    def warm(self, spark) -> None:
        for b in range(INC_WARM_BATCHES):
            self._commit(spark, b, self.state, self.bookmark)
        self.next_batch = INC_WARM_BATCHES

    def op(self, spark, i: int) -> int:
        b = self.next_batch
        if b >= self.n_batches:
            raise Exhausted
        self._commit(spark, b, self.state, self.bookmark)
        self.next_batch += 1
        # docs per batch vary with where late lines land; the stream's
        # mean keeps the rate a function of the batch time alone
        return sum(self.docs_in_batch.values()) / self.n_batches

    def at_boundary(self, n_ops: int) -> bool:
        # a batch takes about as long as a whole run's time limit, which
        # alone would make a run time one batch or two; the median of a
        # round of three is steadier than either
        return n_ops % INC_ROUND_BATCHES == 0

    def check(self, spark) -> Check:
        c = Check()
        self.check_state(spark, self.state, self.bookmark, c)
        return c

    def check_state(self, spark, state, bookmark, c: Check) -> None:
        """Final state equals a one-shot ``run_batch`` over the same
        lines, per qid; every processed batch has its manifest."""
        from pyspark.sql import functions as F
        from log_ship_elastic_postfix_spark.plans.pipeline import run_batch

        lines = self.lines(spark, F.col("batch_seq") < self.next_batch)
        want = _doc_view(run_batch(spark, lines, self.cfg()).docs)
        got = _doc_view(state.read(spark))
        c.expected += len(want)
        c.found += sum(1 for q, v in want.items() if got.get(q) == v)
        c.expect(got == want, f"state differs from the one-shot fold on "
                 f"{sum(1 for q in set(want) | set(got) if got.get(q) != want.get(q))} qids")
        c.expect(bookmark.processed_batches() == list(range(self.next_batch)),
                 "bookmark manifests do not match the processed batches")

    def traced(self, spark, tr: Tracer, out: dict) -> Check:
        from log_ship_elastic_postfix_spark.operators.state import StateStore
        from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore

        sql = probes.SqlMetrics(spark)
        first = self.next_batch
        batches = [b for b in range(first, first + INC_TRACE_BATCHES)
                   if b < self.n_batches]
        shutil.copytree(self.path("state"), self.path("state_t"))
        shutil.copytree(self.path("bookmark"), self.path("bookmark_t"))
        state_t = StateStore(self.path("state_t"))
        bookmark_t = BookmarkStore(self.path("bookmark_t"))

        t0 = time.monotonic()
        jobs = [self._commit(spark, b, self.state, self.bookmark) for b in batches]
        untraced = time.monotonic() - t0
        out["plans.pipeline.jobs_per_batch"] = median(jobs)
        spark.sparkContext.setJobGroup("traced", "traced")
        for b in batches:
            tr.batch = str(b)
            with tr.span("plans.pipeline"):
                self._traced_batch(spark, tr, sql, b, state_t, bookmark_t, out)
        self.next_batch = first + len(batches)
        finish_trace(tr, untraced, out)
        c = Check()
        self.check_state(spark, self.state, self.bookmark, c)
        self.check_state(spark, state_t, bookmark_t, c)
        return c

    def _traced_batch(self, spark, tr, sql, b, state, bookmark, out) -> None:
        """``run_batch``'s state + bookmark path, one layer at a time."""
        from pyspark.sql import Observation, functions as F
        from log_ship_elastic_postfix_spark.operators import route
        from log_ship_elastic_postfix_spark.sources.bookmark import partition_lineage

        cfg = self.cfg()
        lines_m = trace_pages(tr, sql, self.batch_lines(spark, b), out)
        parsed_m, rejects_m, all_m = trace_parse(tr, sql, lines_m, cfg, out)
        state_m = None
        with tr.span("operators.state.lookup"):
            dates = [r["d"] for r in parsed_m.select(
                F.substring("date", 1, 10).alias("d")).distinct().collect()]
            state_docs = state.lookup(spark, parsed_m, dates=dates)
            if state_docs is not None:
                obs = Observation("lookup")
                force(state_docs.observe(obs, F.count(F.lit(1)).alias("n")))
                _add(out, "operators.state.matched_docs", obs.get["n"])
                state_m = _materialize(tr, state_docs)
        docs_m = trace_assemble(tr, sql, parsed_m, cfg, out, state_docs=state_m)
        enriched_m = trace_enrich(tr, docs_m, None, out)
        with tr.span("operators.route"):
            routed = route.route_docs(enriched_m, orphan_sink=cfg.orphan_sink,
                                      parent_sink=cfg.parent_sink)
            if state_m is not None:
                routed = route.pin_committed_routing(routed, state_m)
            force(routed)
            routed_m = _materialize(tr, routed)
        with tr.span("operators.state.upsert"):
            mark = sql.mark()
            state.upsert(spark, routed_m.drop("_parent"))
            _add(out, "operators.state.partitions_rewritten", probes.node_total(
                sql.nodes_since(mark), "Execute InsertIntoHadoopFsRelationCommand",
                "number of dynamic part"))
        with tr.span(PROBE):
            out["operators.state.state_rows"] = float(state.read(spark).count())
        with tr.span("sources.bookmark.commit"):
            manifest = {
                "batch_seq": b,
                "lineage": partition_lineage(self.batch_lines(spark, b),
                                             size_col="line"),
                "n_lines": all_m.count(),
                "n_rejects": rejects_m.count(),
            }
            bookmark.commit(b, manifest)


def _doc_view(docs) -> dict:
    """qid → (n_events, sorted events, isFinal), the comparison
    ``tests/test_pipeline.py::test_cross_batch_merge`` makes: event
    order across batches follows commit order, so events compare as a
    multiset."""
    return {r["qid"]: (r["n_events"], sorted(map(str, r["events"])), r["isFinal"])
            for r in docs.select("qid", "n_events", "events", "isFinal").collect()}


# ----------------------------------------------------------------- neardup
class NearDup(Workload):
    """MinHash, SimHash-verified and embedding-LSH near-duplicates over a
    seeded corpus with planted pairs and NULL/zero vectors."""
    name = "neardup"
    trace_ops = 2 * len(ND_OPS)

    def __init__(self, seed, workdir, n_docs=ND_DOCS):
        super().__init__(seed, workdir)
        self.spec = gen.CorpusSpec(n_docs, seed)
        self.rounds: list[dict] = []

    def describe(self) -> dict:
        s = self.spec
        return {"docs": s.n_docs, "exact_pairs": int(s.n_docs * s.exact_share),
                "near_pairs": int(s.n_docs * s.near_share),
                "null_vectors": int(s.n_docs * s.null_share),
                "zero_vectors": int(s.n_docs * s.zero_share), "dim": s.dim}

    def stage(self, spark) -> None:
        self.corpus = gen.make_corpus(self.spec)
        gen.stage_corpus(self.corpus, self.path("corpus"))
        self.shingles = [_shingles(t) for t in self.corpus.texts]

    def df(self, spark):
        return spark.read.parquet(self.path("corpus"))

    def _call(self, spark, op: str) -> list:
        from log_ship_elastic_postfix_spark.operators import dedup, similarity
        df = self.df(spark)
        if op == "minhash":
            return dedup.near_duplicates_minhash(
                df, threshold=MINHASH_THRESHOLD).collect()
        if op == "simhash":
            return dedup.simhash_verified_near_duplicates(
                df, threshold=SIMHASH_THRESHOLD).collect()
        return similarity.embedding_near_duplicates(
            df, id_col="doc_id", vec_col="embedding", dim=self.spec.dim,
            threshold=COSINE_THRESHOLD).collect()

    def _round(self, spark) -> dict:
        return {op: self._call(spark, op) for op in ND_OPS}

    def warm(self, spark) -> None:
        self._round(spark)

    def op(self, spark, i: int) -> float:
        """One operator call; three calls make a round over the corpus."""
        op = ND_OPS[i % len(ND_OPS)]
        if op == ND_OPS[0]:
            self.rounds.append({})
        self.rounds[-1][op] = self._call(spark, op)
        return self.spec.n_docs / len(ND_OPS)

    def at_boundary(self, n_ops: int) -> bool:
        return n_ops % len(ND_OPS) == 0

    def check(self, spark) -> Check:
        c = Check()
        for r in self.rounds:
            if len(r) == len(ND_OPS):
                self.check_round(r, c)
        return c

    def check_round(self, r: dict, c: Check) -> None:
        """Every reported pair verified above its threshold; recall
        against the planted pairs."""
        import numpy as np

        vecs = self.corpus.vectors
        for op, thr in (("minhash", MINHASH_THRESHOLD),
                        ("simhash", SIMHASH_THRESHOLD)):
            bad = [p for p in r[op] if
                   _jaccard(self.shingles[p["id_a"]], self.shingles[p["id_b"]])
                   < thr - 1e-6]
            c.expect(not bad, f"{op}: {len(bad)} pairs below {thr}")
            found = {(p["id_a"], p["id_b"]) for p in r[op]}
            c.expected += len(self.corpus.pairs)
            c.found += len(self.corpus.pairs & found)
        bad = 0
        for p in r["embedding"]:
            a, b = vecs[p["id_a"]], vecs[p["id_b"]]
            if a is None or b is None:
                bad += 1
                continue
            a, b = np.asarray(a), np.asarray(b)
            den = np.linalg.norm(a) * np.linalg.norm(b)
            if den == 0 or a @ b / den < COSINE_THRESHOLD - 1e-6:
                bad += 1
        c.expect(not bad, f"embedding: {bad} pairs below {COSINE_THRESHOLD}")
        found = {(p["id_a"], p["id_b"]) for p in r["embedding"]}
        c.expected += len(self.corpus.pairs)
        c.found += len(self.corpus.pairs & found)

    def traced(self, spark, tr: Tracer, out: dict) -> Check:
        from pyspark.sql import functions as F
        from log_ship_elastic_postfix_spark.operators import dedup, similarity

        t0 = time.monotonic()
        untraced_round = self._round(spark)
        untraced = time.monotonic() - t0
        df = self.df(spark)
        res = {}
        tr.batch = "0"
        with tr.span("plans.pipeline"):
            with tr.span("operators.dedup.minhash"):
                cand = dedup.minhash_lsh_candidates(df)
                res["minhash"] = dedup.jaccard_pairs(
                    df, cand, threshold=MINHASH_THRESHOLD).collect()
                with tr.span(PROBE):
                    bb = dedup.minhash_band_buckets(F.col("text"))
                    exploded = (df.select("doc_id", bb.alias("bb"))
                                .filter(F.col("bb").isNotNull())
                                .select("doc_id", F.posexplode("bb")
                                        .alias("band", "bucket")))
                    _candidates(out, "operators.dedup.minhash", cand.count(),
                                len(res["minhash"]),
                                _largest(exploded, ["band", "bucket"]))
            with tr.span("operators.dedup.simhash"):
                cand = dedup.simhash_candidates(df)
                res["simhash"] = dedup.jaccard_pairs(
                    df, cand, n_shingle=N_SHINGLE,
                    threshold=SIMHASH_THRESHOLD).collect()
                with tr.span(PROBE):
                    _candidates(out, "operators.dedup.simhash", cand.count(),
                                len(res["simhash"]), _simhash_largest(df))
            with tr.span("operators.similarity.lsh"):
                res["embedding"] = similarity.embedding_near_duplicates(
                    df, id_col="doc_id", vec_col="embedding", dim=self.spec.dim,
                    threshold=COSINE_THRESHOLD).collect()
                with tr.span(PROBE):
                    b = similarity.lsh_sign_buckets(
                        df, id_col="doc_id", vec_col="embedding",
                        dim=self.spec.dim, n_tables=8, n_bits=6).persist()
                    left = b.select(F.col("doc_id").alias("id_a"), "tbl", "bucket")
                    right = b.select(F.col("doc_id").alias("id_b"), "tbl", "bucket")
                    cand = (left.join(right, ["tbl", "bucket"])
                            .filter(F.col("id_a") < F.col("id_b"))
                            .select("id_a", "id_b").distinct().persist())
                    _candidates(out, "operators.similarity", cand.count(),
                                len(res["embedding"]),
                                _largest(b, ["tbl", "bucket"]))
                    # pairs of NULL or all-zero vectors, which can never
                    # verify: the cost of bucketing them at all
                    degenerate = [i for i, v in enumerate(self.corpus.vectors)
                                  if v is None or not any(v)]
                    out["operators.similarity.degenerate_pairs"] = float(
                        cand.filter(F.col("id_a").isin(degenerate)
                                    & F.col("id_b").isin(degenerate)).count())
                    cand.unpersist()
                    b.unpersist()
        finish_trace(tr, untraced, out)
        c = Check()
        self.check_round(untraced_round, c)
        self.check_round(res, c)
        return c


def _shingles(text: str) -> frozenset:
    toks = text.lower().split()
    return frozenset(" ".join(toks[i:i + N_SHINGLE])
                     for i in range(len(toks) - N_SHINGLE + 1))


def _jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def _largest(df, keys) -> int:
    from pyspark.sql import functions as F
    row = df.groupBy(*keys).count().agg(F.max("count")).first()
    return int(row[0] or 0)


def _simhash_largest(df, n_shingle: int = 2, n_tables: int = 8) -> int:
    """Largest (table, slice) bucket of ``simhash_candidates``' keys."""
    from pyspark.sql import functions as F
    from log_ship_elastic_postfix_spark.operators.dedup import simhash64

    bits = 64 // n_tables
    sh = (df.select(simhash64(F.col("text"), n_shingle).alias("h"))
          .filter(F.col("h").isNotNull()))
    keys = F.array(*[F.struct(F.lit(t).alias("tbl"),
                              F.shiftrightunsigned("h", t * bits)
                              .bitwiseAND(F.lit((1 << bits) - 1)).alias("bkey"))
                     for t in range(n_tables)])
    return _largest(sh.select(F.explode(keys).alias("s"))
                    .select("s.tbl", "s.bkey"), ["tbl", "bkey"])


def _candidates(out: dict, prefix: str, cand: int, verified: int,
                largest: int) -> None:
    out[f"{prefix}.candidate_pairs"] = float(cand)
    out[f"{prefix}.verified_pairs"] = float(verified)
    out[f"{prefix}.useful_ratio"] = verified / cand if cand else 0.0
    out[f"{prefix}.largest_bucket"] = float(largest)


# ----------------------------------------------------- traced layer steps
def _materialize(tr: Tracer, df):
    with tr.span(MATERIALIZE):
        return df.localCheckpoint(eager=True)


def trace_pages(tr, sql, lines, out: dict):
    from pyspark.sql import Observation, functions as F

    obs = Observation("pages")
    with tr.span("sources.pages"):
        mark = sql.mark()
        force(lines.observe(obs, F.count(F.lit(1)).alias("rows")))
        nodes = sql.nodes_since(mark)
        _add(out, "sources.pages.rows_out", obs.get["rows"])
        _add(out, "sources.pages.scan_bytes",
             probes.node_total(nodes, "Scan", "size of files read"))
        return _materialize(tr, lines)


def trace_parse(tr, sql, lines_m, cfg, out: dict):
    """The parse layer. Returns (parsed, rejects, all rows), split from
    the materialized grok output the way ``parse_lines`` splits it."""
    from pyspark.sql import Observation, functions as F
    from log_ship_elastic_postfix_spark.plans.pipeline import parse_stage

    obs = Observation("parse")
    qid_ok = F.col("qid").isNotNull() & (F.col("qid") != "")
    reason = F.col("reject_reason")
    with tr.span("operators.parse"):
        pr = parse_stage(lines_m, cfg)
        mark = sql.mark()
        force(pr.all_rows.observe(
            obs, F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.when(reason.isNull() & qid_ok, 1).otherwise(0)).alias("rows_out"),
            *[F.sum(F.when(reason == r, 1).otherwise(0)).alias(r)
              for r in ("envelope_miss", "prog_filtered")],
            F.sum(F.when(reason.isNull() & ~qid_ok, 1).otherwise(0)).alias("no_qid")))
        nodes = sql.nodes_since(mark)
        got = obs.get
        for k in ("rows_in", "rows_out"):
            _add(out, f"operators.parse.{k}", got[k])
        for r in ("envelope_miss", "prog_filtered", "no_qid"):
            _add(out, f"operators.parse.rejects.{r}", got[r] or 0)
        _add(out, "operators.parse.python_s", probes.node_total(
            nodes, "MapInArrow", "time to run Python workers"))
        _add(out, "operators.parse.arrow_bytes", sum(
            probes.node_total(nodes, "MapInArrow", m) for m in
            ("data sent to Python workers", "data returned from Python workers")))
        all_m = _materialize(tr, pr.all_rows)
    passengers = [c for c in all_m.columns if c in lines_m.columns and c != "line"]
    parsed = all_m.filter(reason.isNull() & qid_ok).drop("reject_reason")
    rejects = all_m.filter(reason.isNotNull()).select(*passengers, "reject_reason") \
        .unionByName(all_m.filter(reason.isNull() & ~qid_ok)
                     .select(*passengers, F.lit("no_qid").alias("reject_reason")))
    return parsed, rejects, all_m


def trace_assemble(tr, sql, parsed_m, cfg, out: dict, state_docs=None):
    from pyspark.sql import Observation, functions as F
    from log_ship_elastic_postfix_spark.plans.pipeline import assemble_stage

    obs = Observation("assemble")
    with tr.span("operators.assemble"):
        docs = assemble_stage(parsed_m, cfg, state_docs=state_docs)
        mark = sql.mark()
        force(docs.observe(obs, F.count(F.lit(1)).alias("docs"),
                           F.max("n_events").alias("largest")))
        nodes = sql.nodes_since(mark)
        _add(out, "operators.assemble.docs_out", obs.get["docs"])
        _max(out, "operators.assemble.largest_group", obs.get["largest"] or 0)
        _add(out, "operators.assemble.shuffle_bytes", probes.node_total(
            nodes, "Exchange", "shuffle bytes written"))
        _add(out, "operators.assemble.shuffle_records", probes.node_total(
            nodes, "Exchange", "shuffle records written"))
        fold = probes.node_stats(nodes, "MapInPandas", "time to run Python workers")
        _add(out, "operators.assemble.python_s", sum(s["total"] for s in fold))
        # one task reports no spread: its skew is 1
        skews = [s["max"] / s["med"] if s.get("med") else 1.0 for s in fold]
        if skews:
            _max(out, "operators.assemble.task_skew", max(skews))
        return _materialize(tr, docs)


def trace_enrich(tr, docs_m, parents, out: dict):
    from log_ship_elastic_postfix_spark.operators import enrich
    with tr.span("operators.enrich"):
        enriched = enrich.with_parent(docs_m, parents)
        force(enriched)
        return _materialize(tr, enriched)


def trace_route(tr, sql, enriched_m, rejects_m, cfg, out: dict, *,
                sink: str, rejects: str):
    from log_ship_elastic_postfix_spark.operators import route
    with tr.span("operators.route"):
        mark = sql.mark()
        routed = route.route_docs(enriched_m, orphan_sink=cfg.orphan_sink,
                                  parent_sink=cfg.parent_sink)
        route.write_routed(routed, sink, typed=cfg.typed_sink)
        route.write_rejects(rejects_m, rejects)
        _route_writes(sql.nodes_since(mark), out)


def _route_writes(nodes, out: dict) -> None:
    _add(out, "operators.route.files_written", probes.node_total(
        nodes, "Execute InsertIntoHadoopFsRelationCommand", "number of written files"))
    _add(out, "operators.route.bytes_written", probes.node_total(
        nodes, "Execute InsertIntoHadoopFsRelationCommand", "written output"))


# span name → the per-layer metric holding its self time
SPAN_METRIC = {
    "sources.pages": "sources.pages.self_s",
    "operators.parse": "operators.parse.self_s",
    "operators.assemble": "operators.assemble.self_s",
    "operators.enrich": "operators.enrich.self_s",
    "operators.route": "operators.route.self_s",
    "operators.state.lookup": "operators.state.lookup_s",
    "operators.state.upsert": "operators.state.upsert_s",
    "sources.bookmark.commit": "sources.bookmark.commit_s",
    "operators.dedup.minhash": "operators.dedup.minhash_s",
    "operators.dedup.simhash": "operators.dedup.simhash_s",
    "operators.similarity.lsh": "operators.similarity.lsh_s",
}


def finish_trace(tr: Tracer, untraced_s: float, out: dict) -> None:
    """Whole-run figures. Layer times are the median over batches of
    each layer's self time in a batch; the rest are totals:
    orchestration self time, materialization, the share of the traced
    wall the spans account for, and the instrument's own cost (traced
    minus untraced wall for the same work)."""
    wall = tr.total("plans.pipeline")
    accounted = tr.total(MATERIALIZE) + tr.total(PROBE)
    for span, key in SPAN_METRIC.items():
        per_batch = tr.per_batch_self(span)
        if per_batch:
            out[key] = median(per_batch)
            accounted += sum(per_batch)
    out["plans.pipeline.self_s"] = tr.total_self("plans.pipeline")
    out["plans.pipeline.materialize_s"] = tr.total(MATERIALIZE)
    out["plans.pipeline.span_coverage"] = accounted / wall if wall else 0.0
    out["plans.pipeline.tracing_overhead_s"] = wall - untraced_s


def _add(out: dict, key: str, v) -> None:
    out[key] = out.get(key, 0.0) + float(v or 0)


def _max(out: dict, key: str, v) -> None:
    out[key] = max(out.get(key, 0.0), float(v or 0))
