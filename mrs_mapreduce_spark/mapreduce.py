"""Mrs-parity layer: the reference's exact programming model on Spark RDDs.

Capability parity (SURVEY.md §2.A, all ``[upstream-UNVERIFIED]`` — the
reference mount was empty, SURVEY.md §0):

* ``mrs/__init__.py::MapReduce`` — user subclass with generator-style
  ``map(key, value)`` / ``reduce(key, values)`` / optional ``combine``.
* ``mrs/job.py::Job`` — ``local_data / file_data / map_data / reduce_data /
  reducemap_data / wait`` building a lazy dataset DAG.
* ``mrs/datasets.py`` — datasets = lazy RDD lineage here (Spark's DAG *is*
  the reference's dataset DAG).
* ``mrs/__init__.py`` partition functions — hash / mod / random.
* ``mrs/__init__.py::IterativeMR`` — producer/consumer driver loop.

Deliberate departures, documented:

* Keys are sorted/grouped by their Python value (must be orderable), not by
  serialized bytes as in ``mrs/tasks.py::ReduceTask``.
* ``wait`` is genuinely asynchronous (A13): datasets materialize
  concurrently on a daemon thread pool and ``wait(timeout=...)`` returns
  the ready subset, like the reference's; Spark's scheduler interleaves
  the concurrent actions.
* Shuffle, fault tolerance (A8/A15) are Spark built-ins.

Scale note: this layer exists for API parity and for workloads that are
genuinely pair-at-a-time; everything relational in this engine uses
DataFrames so Catalyst can optimize. RDD code paths serialize through
pickle and should be reserved for logic DataFrames cannot express.
"""

from __future__ import annotations

import hashlib
import itertools
import random
import re
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator
from concurrent import futures
from pathlib import Path

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import table
from .registry import register

#: The one tokenizer definition the wordcount-family oracles pin.
#: Python ``str.split()`` splits on ALL Unicode whitespace (NBSP, U+2028,
#: U+0085, ...) while the oracles' DuckDB regex splits only the ASCII
#: class — a document containing NBSP would diverge (r12 advice, probed:
#: ``'a\\xa0b'.split()`` → 2 tokens, the regex → 1). Module-level so
#: pickling ships a by-name reference to workers.
_ASCII_WS = re.compile(r"[ \t\n\r\f\v]+")


def ascii_words(text: str | None) -> list[str]:
    """Split on ASCII whitespace only, dropping empties — the exact
    semantics of DuckDB ``string_split_regex(text, '[ \\t\\n\\r\\f\\v]+')``
    with the ``w <> ''`` filter the oracles apply."""
    if not text:
        return []
    return [w for w in _ASCII_WS.split(text) if w]


_WAIT_POOL: futures.ThreadPoolExecutor | None = None


def _wait_pool() -> futures.ThreadPoolExecutor:
    """Shared daemon pool for concurrent dataset materialization (A13)."""
    global _WAIT_POOL
    if _WAIT_POOL is None:
        _WAIT_POOL = futures.ThreadPoolExecutor(
            max_workers=8, thread_name_prefix="mrs-wait"
        )
    return _WAIT_POOL

# ---------------------------------------------------------------------------
# Partition functions (parity: mrs hash_partition / mod_partition /
# random_partition — SURVEY.md §2.A A7)
# ---------------------------------------------------------------------------


def hash_partition(key, n: int) -> int:
    """Default partitioner: md5 of the repr'd key mod n.

    The reference hashes the *serialized* key; md5-of-repr keeps that
    property (stable across interpreters and runs) without depending on
    PYTHONHASHSEED the way Python's built-in str hash does.
    """
    digest = hashlib.md5(repr(key).encode("utf-8", "surrogatepass")).digest()
    return int.from_bytes(digest[:8], "big") % n


def mod_partition(key, n: int) -> int:
    """Integer keys straight mod n (preserves key locality)."""
    return int(key) % n


def random_partition(key, n: int) -> int:
    """Spray pairs uniformly; only safe upstream of a re-partitioning op."""
    return random.randrange(n)


# ---------------------------------------------------------------------------
# Program + dataset + job
# ---------------------------------------------------------------------------


class MapReduce:
    """Base class a user subclasses — the reference's program model.

    ``map`` yields 0..n ``(key, value)`` pairs per input pair; ``reduce``
    yields output *values* for one key (the framework re-attaches the key);
    ``combine`` (optional) has reduce's signature and runs map-side.
    """

    #: optional map-side combiner: combine(key, values) -> yields values
    combine: Callable | None = None

    def map(self, key, value) -> Iterator[tuple]:
        raise NotImplementedError

    def reduce(self, key, values: Iterator) -> Iterator:
        raise NotImplementedError


class Dataset:
    """A lazy pair collection — parity with ``mrs/datasets.py`` datasets.

    ``splits`` is the partition count the *next* consumer sees (the
    reference's (source, split) bucket grid collapses to RDD partitions).
    """

    def __init__(self, rdd: RDD, splits: int):
        self.rdd = rdd
        self.splits = splits
        self._materialized = False
        self._future: futures.Future | None = None

    def collect(self) -> list[tuple]:
        return self.rdd.collect()

    def close(self) -> None:
        """Free cached blocks (parity: dataset.close() frees buckets)."""
        self.rdd.unpersist()


def _sorted_groups(items: Iterable[tuple]) -> Iterator[tuple]:
    """Sort a partition by key and group equal-key runs (ReduceTask prep)."""
    for key, pairs in itertools.groupby(
        sorted(items, key=lambda kv: kv[0]), key=lambda kv: kv[0]
    ):
        yield key, (v for _, v in pairs)


def _ensure_code_shipped(sc) -> None:
    """Ship this package to executors (mrs same-script-everywhere parity).

    The reference guarantees every node runs the same script and resolves
    functions by name (``mrs/registry.py``). Spark pickles classes/functions
    by module reference, so workers must be able to import this package even
    when the driver process started in an unrelated cwd — addPyFile of a
    package zip restores that guarantee. Idempotent per SparkContext.
    """
    if getattr(sc, "_mrs_code_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    staging = Path(tempfile.mkdtemp(prefix="mrs_pyfiles_"))
    zip_base = staging / "mrs_mapreduce_spark"
    archive = shutil.make_archive(
        str(zip_base), "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name
    )
    sc.addPyFile(archive)
    sc._mrs_code_shipped = True


class Job:
    """Builds the lazy dataset DAG — parity with ``mrs/job.py::Job``."""

    def __init__(self, spark: SparkSession, default_splits: int | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.default_splits = default_splits or self.sc.defaultParallelism
        _ensure_code_shipped(self.sc)

    # -- sources ------------------------------------------------------------

    def local_data(self, pairs: Iterable[tuple], splits: int = 2) -> Dataset:
        """Master-side iterable of pairs → dataset (A2)."""
        return Dataset(self.sc.parallelize(list(pairs), splits), splits)

    def file_data(self, paths: list[str]) -> Dataset:
        """Text files → (line_number, line) pairs, one source per file (A1)."""
        rdds = [
            self.sc.textFile(p)
            .zipWithIndex()
            .map(lambda t: (t[1], t[0]))
            for p in paths
        ]
        union = self.sc.union(rdds)
        return Dataset(union, union.getNumPartitions())

    def dataframe_data(self, df: DataFrame, key_col: str, value_col: str) -> Dataset:
        """Bridge a DataFrame column pair into the parity layer."""
        rdd = df.select(key_col, value_col).rdd.map(lambda r: (r[0], r[1]))
        return Dataset(rdd, rdd.getNumPartitions())

    # -- transforms ---------------------------------------------------------

    def map_data(
        self,
        dataset: Dataset,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        combiner: Callable | None = None,
    ) -> Dataset:
        """Apply a generator map; optionally combine map output per task (A5/A6)."""
        out = dataset.rdd.flatMap(lambda kv: mapper(kv[0], kv[1]))
        if combiner is not None:
            out = out.mapPartitions(
                lambda items: (
                    (k, v)
                    for k, vals in _sorted_groups(items)
                    for v in combiner(k, vals)
                )
            )
        ds = Dataset(out, splits or self.default_splits)
        ds.parter = parter
        return ds

    def _shuffle(self, dataset: Dataset, splits: int, parter: Callable) -> RDD:
        """Partition by the dataset's parter — the reference's bucket shuffle."""
        return dataset.rdd.partitionBy(splits, lambda key: parter(key, splits))

    def reduce_data(
        self,
        dataset: Dataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        outdir: str | None = None,
    ) -> Dataset:
        """Shuffle → sort by key → group → user reduce (A8/A9/A10).

        ``outdir`` mirrors the reference's TextWriter sink: one
        ``key<TAB>value`` text part-file per split (A4).
        """
        n = splits or self.default_splits
        shuffled = self._shuffle(dataset, n, parter)
        reduced = shuffled.mapPartitions(
            lambda items: (
                (k, v)
                for k, vals in _sorted_groups(items)
                for v in reducer(k, vals)
            ),
            preservesPartitioning=True,
        )
        ds = Dataset(reduced, n)
        if outdir is not None:
            # the save fills the cache, so a later wait or collect reads
            # it instead of running the reducer again
            reduced.cache()
            reduced.map(lambda kv: f"{kv[0]}\t{kv[1]}").saveAsTextFile(outdir)
            ds._materialized = True
        return ds

    def reduce_data_sorted(
        self,
        dataset: Dataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> Dataset:
        """Secondary sort: reduce over VALUE-ORDERED groups (A9, scale-fixed).

        ``reduce_data`` (like ``mrs/tasks.py::ReduceTask``) sorts each
        partition in task memory — the scale ceiling the PyHPC'12 paper
        acknowledges: one partition's pairs must fit RAM. This variant is
        the classic MapReduce secondary-sort pattern done the Spark way:
        lift the value into a composite ``(key, value)`` shuffle key and
        let ``repartitionAndSortWithinPartitions`` order it with the
        EXTERNAL shuffle sort (spills to disk), partitioning on the key
        alone so equal-key runs stay contiguous. The reducer receives
        values already ascending — no per-group buffering, any group size.
        """
        n = splits or self.default_splits
        composite = dataset.rdd.map(lambda kv: ((kv[0], kv[1]), None))
        ordered = composite.repartitionAndSortWithinPartitions(
            numPartitions=n,
            partitionFunc=lambda ck: parter(ck[0], n),
        )

        def run(items):
            for key, group in itertools.groupby(
                items, key=lambda cv: cv[0][0]
            ):
                vals = (ck[1] for ck, _ in group)
                for out in reducer(key, vals):
                    yield key, out

        return Dataset(ordered.mapPartitions(run), n)

    def reducemap_data(
        self,
        dataset: Dataset,
        reducer: Callable,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> Dataset:
        """Fused reduce→map in one task, no intermediate dataset (A11).

        In Spark the fusion is structural: the mapper chains onto the
        reducer inside the same ``mapPartitions`` closure, so both run in
        one stage exactly like ``mrs/tasks.py::ReduceMapTask``.
        """
        n = splits or self.default_splits
        shuffled = self._shuffle(dataset, n, parter)

        def run(items):
            for k, vals in _sorted_groups(items):
                for v in reducer(k, vals):
                    yield from mapper(k, v)

        return Dataset(shuffled.mapPartitions(run), n)

    # -- control ------------------------------------------------------------

    def wait(self, *datasets: Dataset, timeout: float | None = None):
        """Materialize datasets concurrently; return the ready subset (A13).

        Parity with ``mrs/job.py::Job.wait``: datasets compute
        concurrently (one Spark action per dataset, submitted from
        daemon threads so independent DAG branches overlap — the
        reference's async dataset scheduling) and with a ``timeout`` the
        call returns whichever subset finished in time; the rest keep
        computing and can be waited on again. ``timeout=None`` blocks for
        all, preserving the simple iterative-driver contract. A dataset
        whose materialization failed re-raises its error here and stays
        unmaterialized, so a later wait resubmits it.
        """
        pending = [ds for ds in datasets if not ds._materialized]
        for ds in pending:
            if ds._future is None:
                ds.rdd.cache()
                ds._job_group = f"mrs-dataset-{id(ds)}"
                ds._future = _wait_pool().submit(
                    self._count_in_group, ds.rdd, ds._job_group
                )
        if pending:
            done, _ = futures.wait(
                [ds._future for ds in pending], timeout=timeout
            )
            for ds in pending:
                if ds._future in done:
                    future, ds._future = ds._future, None
                    future.result()
                    ds._materialized = True
        return [ds for ds in datasets if ds._materialized]

    def _count_in_group(self, rdd: RDD, group: str) -> None:
        """Fill the dataset's cache under its own job group and FAIR pool.

        Job groups are thread-local, so tagging inside the pool thread
        scopes exactly this action for ``progress``, and the per-dataset
        pool lets concurrent waits share slots. The count runs on the JVM
        side of the cached PythonRDD: the one Python pass that computes
        each partition fills the cache, where PySpark's ``RDD.count()``
        would run a second Python pass over every cached partition.
        """
        self.sc.setJobGroup(group, "mrs dataset materialization")
        self.sc.setLocalProperty("spark.scheduler.pool", group)
        try:
            rdd._jrdd.count()
        finally:
            self.sc.setJobGroup("", "")
            self.sc.setLocalProperty("spark.scheduler.pool", None)

    def progress(self, dataset: Dataset) -> float:
        """Progress fraction for an async dataset (A14).

        Parity with ``mrs/job.py::Job.progress`` [upstream-UNVERIFIED]:
        the reference reports per-dataset completed-task fractions from
        the master's scheduler state; here the same fraction comes from
        ``SparkStatusTracker`` — completed tasks over total tasks across
        every stage of the dataset's job group. Returns 0.0 before the
        action is scheduled, 1.0 once materialized; in-flight fractions
        are capped at 0.99 so only materialization reports completion
        (stage stats lag the job's own completion event).
        """
        if dataset._materialized:
            return 1.0
        group = getattr(dataset, "_job_group", None)
        if group is None:
            return 0.0
        tracker = self.sc.statusTracker()
        total = done = 0
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            for stage_id in job.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:
                    continue
                total += stage.numTasks
                done += stage.numCompletedTasks
        if total == 0:
            return 0.0
        return min(done / total, 0.99)


class IterativeMR:
    """Producer/consumer iteration driver — parity with ``IterativeMR``.

    ``program.producer(job) -> [datasets]`` emits the next generation;
    ``program.consumer(dataset) -> bool`` inspects results and returns
    False to stop.
    """

    def __init__(self, program):
        self.program = program

    def run(self, job: Job, max_iterations: int = 100) -> int:
        iterations = 0
        for _ in range(max_iterations):
            datasets = self.program.producer(job)
            ready = job.wait(*datasets)
            iterations += 1
            keep_going = all(self.program.consumer(ds) for ds in ready)
            if not keep_going:
                break
        return iterations


# ---------------------------------------------------------------------------
# Declared parity queries (driver-checked via the DuckDB oracle)
# ---------------------------------------------------------------------------


@register(
    "reduce_sum",
    oracle="""
    SELECT w AS word, count(*) AS cnt
    FROM (SELECT unnest(string_split_regex(text, '[ \t\n\r\f\v]+')) AS w
          FROM documents)
    WHERE w <> ''
    GROUP BY w
    """,
    survey="A5/A6/A10 (wordcount through the full parity layer)",
    scale="""
    Runs the reference's actual pipeline: generator map, map-side combine
    (shrinks the shuffle from one pair per word occurrence to one per
    distinct word per partition), hash shuffle, sort-group reduce. Splits
    follow the session (``sc.defaultParallelism``), so the task count
    tracks its slots. The DataFrame twin of this plan (explode+groupBy)
    is what production code should use — see bench.py for the measured
    gap.
    """,
)
def reduce_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount via Job.map_data → Job.reduce_data (the Mrs hello-world)."""
    from .examples import WordCount

    program = WordCount()
    docs = table(spark, sf_dir, "documents")
    job = Job(spark)
    ds0 = job.dataframe_data(docs, "doc_id", "text")
    ds1 = job.map_data(ds0, program.map, combiner=program.combine)
    ds2 = job.reduce_data(ds1, program.reduce)
    return spark.createDataFrame(ds2.rdd, "word string, cnt long")


@register(
    "mr_reducemap",
    oracle="""
    SELECT substr(w, 1, 1) AS letter, count(*) AS total
    FROM (SELECT unnest(string_split_regex(text, '[ \t\n\r\f\v]+')) AS w
          FROM documents)
    WHERE w <> ''
    GROUP BY substr(w, 1, 1)
    """,
    survey="A11 (reducemap fusion through the parity layer)",
    scale="""
    reducemap_data fuses the per-word reduce and the re-keying map into one
    task (no intermediate dataset), then a second reduce totals per letter
    — the reference's key iterative-algorithm optimization, structurally
    reproduced: two stages total, not three.
    """,
)
def mr_reducemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount → reducemap re-keys counts by first letter → total."""
    from .examples import WordCount

    program = WordCount()
    docs = table(spark, sf_dir, "documents")
    job = Job(spark)
    ds0 = job.dataframe_data(docs, "doc_id", "text")
    ds1 = job.map_data(ds0, program.map, combiner=program.combine)
    # fused: reduce per word, immediately re-key by first letter
    ds2 = job.reducemap_data(
        ds1,
        program.reduce,
        lambda word, count: iter([(word[:1], count)]),
    )
    ds3 = job.reduce_data(ds2, program.reduce)
    return spark.createDataFrame(ds3.rdd, "letter string, total long")


@register(
    "mr_map_only",
    oracle="""
    SELECT doc_id, w AS word
    FROM (SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\r\f\v]+')) AS w
          FROM documents)
    WHERE w LIKE 's%'
    """,
    survey="A5 (map-only job: no reduce phase)",
    scale="""
    A map-only dataset (the reference's grep shape): no shuffle at all —
    the map generator filters and re-keys in place. In Spark terms a pure
    narrow stage; output partitioning inherits the input's.
    """,
)
def mr_map_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grep-style map-only job through the parity layer."""
    docs = table(spark, sf_dir, "documents")
    job = Job(spark)
    ds0 = job.dataframe_data(docs, "doc_id", "text")
    ds1 = job.map_data(
        ds0,
        # ascii_words: NULL document yields no words, and the split is
        # the oracle's exact ASCII regex class (not str.split(), which
        # would also break on NBSP/U+2028 — r12 advice)
        lambda doc_id, text: (
            (doc_id, w)
            for w in ascii_words(text)
            if w.startswith("s")
        ),
    )
    return spark.createDataFrame(ds1.rdd, "doc_id long, word string")


def _session_reduce(user_id, ordered_vals):
    """Reducer for mr_secondary_sort: consumes time-ordered event tuples.

    Module-level (not a closure) so pickling ships a reference, resolved
    on workers via the shipped package zip — the reference's
    resolve-by-name discipline (``mrs/registry.py``).
    """
    n = 0
    first = last = None
    for v in ordered_vals:  # v = (ts_ns, event_id, event_type)
        if n == 0:
            first = v
        last = v
        n += 1
    yield (n, first[2], last[2], last[0] - first[0])


@register(
    "mr_secondary_sort",
    oracle="""
    WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type
               FROM events),
    f AS (SELECT user_id, event_type AS first_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY tsn, event_id) AS rn
            FROM e) WHERE rn = 1),
    l AS (SELECT user_id, event_type AS last_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY tsn DESC, event_id DESC) AS rn
            FROM e) WHERE rn = 1),
    g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                 CAST(max(tsn) - min(tsn) AS BIGINT) AS span_ns
          FROM e GROUP BY user_id)
    SELECT g.user_id, g.n_events, f.first_type, l.last_type, g.span_ns
    FROM g JOIN f USING (user_id) JOIN l USING (user_id)
    """,
    survey="A9 (secondary sort — value-ordered reduce input, external sort)",
    scale="""
    The A9 scale fix demonstrated end to end: per-user event history
    arrives at the reducer ALREADY time-ordered by the shuffle's
    external sort (repartitionAndSortWithinPartitions), so the reducer
    streams any group size in O(1) memory — the exact ceiling the
    reference's in-memory ReduceTask sort hits first at 100 TB. The
    (ts_ns, event_id) composite makes the order total, hence the exact
    oracle. Same pattern powers time-ordered sessionization, log
    replay, CDC apply — anywhere reduce logic is order-sensitive.
    """,
)
def mr_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/span per user via value-sorted reduce (secondary sort)."""
    ev = table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id",
        F.struct("ts_ns", "event_id", "event_type").alias("v"),
    )
    job = Job(spark)
    ds0 = Dataset(
        pairs.rdd.map(lambda r: (r[0], (r[1][0], r[1][1], r[1][2]))),
        pairs.rdd.getNumPartitions(),
    )
    ds1 = job.reduce_data_sorted(ds0, _session_reduce)
    flat = ds1.rdd.map(
        lambda kv: (kv[0], kv[1][0], kv[1][1], kv[1][2], kv[1][3])
    )
    return spark.createDataFrame(
        flat,
        "user_id long, n_events long, first_type string, "
        "last_type string, span_ns long",
    )
