"""Seeded inputs for the three workloads, and their closed-form tallies.

``datagen.generate_pages`` is deterministic and takes no seed: its hot
urls are always the first ``n_hot`` and its row order is fixed. The
benchmark runs it and lets the seed decide what the pipeline's
behaviour depends on:

- hot-key placement: every url index ``u`` is relabelled through a
  seeded affine permutation ``pi(u) = (a*u + b) mod n`` in the qid and
  the url, so the hot qids move with the seed while each url keeps its
  scenario; batch_skewed takes the first of the seed's permutations
  that puts all hot qids in one fold task (``place_hot``);
- row order: the staged table is a seeded permutation of the rows;
- arrival lag (incremental): the lines a url logs after a deferred
  delivery arrive late by a seeded lag, so those qids straddle
  micro-batches;
- the near-duplicate corpus: texts, vectors, planted pairs and the
  NULL/zero vectors all come from one ``numpy`` generator.

Everything the checks compare against is computed here in plain Python
from the scenario table, never by running the pipeline. The rates the
generator plants (parents, late lines, NULL and zero vectors) are in
``design.json`` under ``rates``, with where each comes from.
"""

from __future__ import annotations

import math
import os
import zlib
from dataclasses import dataclass, field

import numpy as np

# per datagen scenario: (events per doc, isFinal, rejects by reason).
# Scenario 6 carries a spamd line (filtered program) and a line with no
# syslog envelope; scenario 9's scache line has no queue id.
SCENARIO_EXPECT: dict[int, tuple[int, bool, dict[str, int]]] = {
    0: (3, True, {}),
    1: (3, True, {}),   # the duplicate smtp line is suppressed
    2: (3, True, {}),
    3: (4, True, {}),
    4: (3, True, {}),
    5: (4, True, {}),
    6: (2, True, {"prog_filtered": 1, "envelope_miss": 1}),
    7: (3, True, {}),
    8: (2, False, {}),  # still open: no "removed" line
    9: (2, True, {"no_qid": 1}),
}
N_SCENARIOS = len(SCENARIO_EXPECT)
ORPHAN_SINK = "postfix-orphan"
PARENT_SINK = "postfix-parent"


def _b36(n: int) -> str:
    digits = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def qid_of(u: int) -> str:
    """The qid ``datagen.generate_pages`` gives url index ``u``."""
    return "3" + _b36(u) + "zXy"


def _mix(seed: int, *parts: int) -> int:
    return zlib.crc32(repr((seed,) + parts).encode())


@dataclass(frozen=True)
class Relabel:
    """Seeded bijection on url indices ``[0, n)``."""
    n: int
    a: int
    b: int

    @classmethod
    def candidates(cls, n: int, seed: int):
        """The seed's endless sequence of bijections."""
        rng = np.random.default_rng(seed)
        while True:
            a = int(rng.integers(1, max(n, 2)))
            if math.gcd(a, n) == 1:
                yield cls(n, a, int(rng.integers(0, n)))

    @classmethod
    def from_seed(cls, n: int, seed: int) -> "Relabel":
        return next(cls.candidates(n, seed))

    def __call__(self, u: int) -> int:
        return (self.a * u + self.b) % self.n


@dataclass
class PagesSpec:
    n_urls: int
    n_hot: int
    hot_lines: int
    seed: int
    parent_share: int = 10   # one url in ``parent_share`` has a parent
    relabel: Relabel = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.relabel is None:
            self.relabel = Relabel.from_seed(self.n_urls, self.seed)

    def has_parent(self, u: int) -> bool:
        return _mix(self.seed, u, 1) % self.parent_share == 0


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def _mix_h1(h1: int, k1: int) -> int:
    k1 = _rotl32((k1 * 0xCC9E2D51) & 0xFFFFFFFF, 15) * 0x1B873593 & 0xFFFFFFFF
    h1 = _rotl32(h1 ^ k1, 13)
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def spark_hash(text: str, seed: int = 42) -> int:
    """Spark SQL's ``hash()`` of a string: the Murmur3 x86_32 variant
    Spark applies to strings (each tail byte mixed as a whole word),
    which is also how a hash exchange picks a row's partition. Computed
    here rather than by a Spark job, which would add seconds to every
    cold set-up."""
    data = text.encode()
    aligned = len(data) - len(data) % 4
    h1 = seed
    for i in range(0, aligned, 4):
        h1 = _mix_h1(h1, int.from_bytes(data[i:i + 4], "little"))
    for byte in data[aligned:]:
        h1 = _mix_h1(h1, (byte - 256 if byte > 127 else byte) & 0xFFFFFFFF)
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= 1 << 31 else h1


def place_hot(spec: PagesSpec, fold_tasks: int) -> Relabel:
    """The first of the seed's bijections that sends every hot qid to
    the same one of ``fold_tasks`` fold tasks. The fold's exchange
    hash-partitions on the qid, as ``pmod(hash(qid), fold_tasks)``, so
    without this the number of hot qids sharing a task, and with it the
    fold's slowest task, would change from seed to seed."""
    for r in Relabel.candidates(spec.n_urls, spec.seed):
        tasks = {spark_hash(qid_of(r(u))) % fold_tasks for u in range(spec.n_hot)}
        if len(tasks) == 1:
            return r
    raise AssertionError("unreachable: candidates() never ends")


def page_table(spark, spec: PagesSpec, n_partitions: int = 4):
    """``datagen.generate_pages(n_urls, n_hot, hot_lines)`` with url
    index ``u`` relabelled to ``spec.relabel(u)`` in the qid and the
    url, collected as a pyarrow table (url, warc_ts, html, text, lang)
    with its rows in a seeded order."""
    from pyspark.sql import functions as F
    from log_ship_elastic_postfix_spark.datagen import generate_pages

    r = spec.relabel
    pages = generate_pages(spark, spec.n_urls, n_hot=spec.n_hot,
                           hot_lines=spec.hot_lines, n_partitions=n_partitions)
    u = F.regexp_extract("url", r"page-(\d+)\.html$", 1).cast("long")
    pu = ((F.lit(r.a) * u + F.lit(r.b)) % F.lit(r.n)).cast("string")
    qid = F.concat(F.lit("3"), F.upper(F.conv(pu, 10, 36)), F.lit("zXy"))
    table = (pages
             .select(F.regexp_replace("url", r"page-\d+\.html$",
                                      F.concat(F.lit("page-"), pu, F.lit(".html")))
                     .alias("url"),
                     "warc_ts",
                     F.regexp_replace(F.col("html").cast("string"),
                                      r"3[0-9A-Z]+zXy", qid)
                     .cast("binary").alias("html"),
                     "text", "lang")
             .toArrow())
    # generate_pages has no shuffle, so the collected order is fixed
    return table.take(np.random.default_rng(spec.seed).permutation(len(table)))


def _write_table(table, path: str, n_files: int = 4,
                 partition: str | None = None) -> None:
    import pyarrow.parquet as pq

    if partition:
        pq.write_to_dataset(table, path, partition_cols=[partition])
        return
    os.makedirs(path, exist_ok=True)
    step = max(1, math.ceil(len(table) / n_files))
    for i in range(0, len(table), step):
        pq.write_table(table.slice(i, step),
                       os.path.join(path, f"part-{i // step:05d}.parquet"))


def parent_rows(spec: PagesSpec) -> list[tuple[str, str]]:
    r = spec.relabel
    return [(qid_of(r(u)), f"parent-{r(u)}")
            for u in range(spec.n_urls) if spec.has_parent(u)]


def stage_pages(spark, spec: PagesSpec, path: str) -> int:
    """Write the seeded pages table; returns its number of lines."""
    table = page_table(spark, spec)
    _write_table(table, path)
    return len(table)


def expected_batch(spec: PagesSpec) -> dict:
    """Closed-form output of one ``run_batch`` over the seeded pages
    with the seeded parent map: per-sink doc/event/final counts and
    rejects by reason."""
    sinks: dict[str, dict[str, int]] = {}
    rejects: dict[str, int] = {}
    largest = 0
    for u in range(spec.n_urls):
        scen = u % N_SCENARIOS
        events, final, rej = SCENARIO_EXPECT[scen]
        if u < spec.n_hot:
            events += spec.hot_lines
        largest = max(largest, events)
        sink = PARENT_SINK if spec.has_parent(u) else ORPHAN_SINK
        s = sinks.setdefault(sink, {"doc_count": 0, "event_count": 0,
                                    "final_count": 0})
        s["doc_count"] += 1
        s["event_count"] += events
        s["final_count"] += int(final)
        for reason, k in rej.items():
            rejects[reason] = rejects.get(reason, 0) + k
    return {"sinks": sinks, "rejects": rejects, "largest_group": largest}


# ---------------------------------------------------------- incremental
@dataclass
class ArrivalSpec:
    """A tailed log: ``pages`` lines in arrival order, cut into
    ``batch_lines``-line micro-batches. The lines a url logs after a
    deferred delivery (``status=deferred``: the retry and the removal)
    arrive late by a seeded lag of up to ``max_lag_batches`` batches'
    worth of log time."""
    n_urls: int
    seed: int
    batch_lines: int = 1024
    max_lag_batches: float = 3.0


def stage_arrivals(spark, spec: ArrivalSpec, path: str) -> tuple[int, dict[int, int]]:
    """Write the seeded pages in arrival order with a ``batch_seq``
    column, partitioned by it. Returns the number of lines and, per
    batch, the number of docs it commits: urls with a qid-bearing line
    in it (every qid ends in ``zXy``; reject lines carry none)."""
    import pyarrow as pa

    table = page_table(spark, PagesSpec(spec.n_urls, n_hot=0, hot_lines=0,
                                        seed=spec.seed))
    urls = table.column("url").to_pylist()
    html = table.column("html").to_pylist()
    ts = [t.timestamp() for t in table.column("warc_ts").to_pylist()]
    n = len(ts)
    batch_secs = (max(ts) - min(ts)) * spec.batch_lines / max(n, 1)
    deferred_at: dict[str, float] = {}
    for i in range(n):
        if b"status=deferred" in html[i]:
            deferred_at[urls[i]] = min(ts[i], deferred_at.get(urls[i], ts[i]))
    keys = []
    for i, url in enumerate(urls):
        h = _mix(spec.seed, zlib.crc32(url.encode()))
        lag = 0.0
        if ts[i] > deferred_at.get(url, math.inf):
            lag = (_mix(spec.seed + 1, h) % 1000) / 1000 * spec.max_lag_batches * batch_secs
        keys.append((ts[i] + lag, h, ts[i]))
    order = sorted(range(n), key=keys.__getitem__)
    batch = [0] * n
    for pos, i in enumerate(order):
        batch[i] = pos // spec.batch_lines
    _write_table(table.append_column("batch_seq", pa.array(batch, pa.int32()))
                 .take(pa.array(order)), path, partition="batch_seq")
    docs: dict[int, set] = {}
    for i in range(n):
        if b"zXy" in html[i]:
            docs.setdefault(batch[i], set()).add(urls[i])
    return n, {b: len(u) for b, u in sorted(docs.items())}


# -------------------------------------------------------------- neardup
@dataclass
class CorpusSpec:
    n_docs: int
    seed: int
    vocab: int = 4000
    min_len: int = 40
    max_len: int = 80
    exact_share: float = 0.05     # docs that are a verbatim copy
    near_share: float = 0.10      # docs that are a one-token mutant
    null_share: float = 0.02      # NULL embeddings
    zero_share: float = 0.01      # all-zero embeddings
    dim: int = 64
    vec_noise: float = 0.08


@dataclass
class Corpus:
    ids: np.ndarray
    texts: list
    vectors: list                 # list[list[float]] or None per doc
    pairs: set = field(default_factory=set)   # planted (base, copy) ids


def make_corpus(spec: CorpusSpec) -> Corpus:
    """Seeded documents + embeddings with planted exact and near pairs.

    Each planted pair is (base, copy) with ``base < copy`` by id, in
    both the texts and the vectors; a base has one partner at most, so
    no third document joins a pair. NULL and zero vectors are drawn
    from the unplanted documents."""
    rng = np.random.default_rng(spec.seed)
    n = spec.n_docs
    order = rng.permutation(n)
    n_exact = int(n * spec.exact_share)
    n_near = int(n * spec.near_share)
    words = np.array([f"t{i}" for i in range(spec.vocab)], dtype=object)
    lens = rng.integers(spec.min_len, spec.max_len + 1, size=n)
    toks = [list(words[rng.integers(0, spec.vocab, size=k)]) for k in lens]
    vecs = rng.standard_normal((n, spec.dim))
    pairs: set = set()
    pos = 0
    for kind, count in (("exact", n_exact), ("near", n_near)):
        for _ in range(count):
            a, b = int(order[pos]), int(order[pos + 1])
            pos += 2
            base, copy = min(a, b), max(a, b)
            toks[copy] = list(toks[base])
            vecs[copy] = vecs[base]
            if kind == "near":
                i = int(rng.integers(3, len(toks[copy]) - 3))
                w = toks[copy][i]
                while w == toks[copy][i]:
                    w = words[int(rng.integers(0, spec.vocab))]
                toks[copy][i] = w
                vecs[copy] = vecs[base] + spec.vec_noise * rng.standard_normal(
                    spec.dim) * np.linalg.norm(vecs[base]) / math.sqrt(spec.dim)
            pairs.add((base, copy))
    rest = [int(i) for i in order[pos:]]
    n_null = int(n * spec.null_share)
    n_zero = int(n * spec.zero_share)
    nulls = set(rest[:n_null])
    zeros = set(rest[n_null:n_null + n_zero])
    vectors = []
    for i in range(n):
        if i in nulls:
            vectors.append(None)
        elif i in zeros:
            vectors.append([0.0] * spec.dim)
        else:
            vectors.append([float(x) for x in vecs[i]])
    return Corpus(ids=np.arange(n), texts=[" ".join(t) for t in toks],
                  vectors=vectors, pairs=pairs)


def stage_corpus(corpus: Corpus, path: str) -> None:
    """Write ``(doc_id, text, embedding)`` parquet with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array(corpus.ids.astype(np.int64)),
        "text": pa.array(corpus.texts, type=pa.string()),
        "embedding": pa.array(corpus.vectors, type=pa.list_(pa.float64())),
    })
    os.makedirs(path, exist_ok=True)
    n = len(corpus.texts)
    step = max(1, math.ceil(n / 4))
    for i in range(0, n, step):
        pq.write_table(table.slice(i, step),
                       os.path.join(path, f"part-{i // step:05d}.parquet"))
