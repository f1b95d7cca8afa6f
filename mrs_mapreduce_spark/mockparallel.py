"""MockParallel run mode: the deterministic full-machinery debug twin.

SURVEY.md §2 A16. The reference ships three run modes [upstream-
UNVERIFIED, public knowledge of byu-aml-lab/mrs-mapreduce: ``mrs/main.py``
selects Serial / MockParallel / the networked master-slave mode]:
*Serial* short-circuits the task machinery entirely, while *MockParallel*
runs EVERY task — splits, parters, combiners, shuffle buckets, sorted
reduce groups — in one process, one task at a time, in a deterministic
order, which is what makes it the debug mode: a failing job replays
identically under a debugger with no scheduler nondeterminism.

The r7 verdict named this the one genuinely absent reference behavior
(Spark ``local[1]`` approximates the parallelism but still schedules
through the DAG scheduler with its own thread, serialization and retry
machinery). :class:`MockParallelJob` is the faithful counterpart: the
SAME user program (a :class:`~.mapreduce.MapReduce` subclass, or an
:class:`~.mapreduce.IterativeMR` producer/consumer program) runs through
the same ``Job`` API surface against plain Python lists — no JVM, no
pickling, no threads — with every framework step (generator map,
map-side combine over sorted per-split groups, parter-bucketed shuffle,
key-sorted groups, secondary value sort, reducemap fusion, text sink)
executed for real. Task order is pinned: upstream datasets materialize
before their consumers, and within a dataset tasks run in split/bucket
index order.

Equality with the Spark-backed :class:`~.mapreduce.Job` is pinned by
tests (``tests/test_mapreduce.py::TestMockParallelParity``) for
wordcount-with-combiner, secondary sort, reducemap fusion, the text
sink, and a full IterativeMR convergence loop.

Scale note: this mode exists for DEBUGGING, never for data. It holds
every partition in driver memory by design — the same documented
limitation as the reference's MockParallel — so its ceiling is what fits
in one Python heap; production runs use :class:`~.mapreduce.Job`
(Spark), where the identical program text scales out.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterable
from pathlib import Path

from .mapreduce import _sorted_groups, hash_partition


class MockDataset:
    """Materialized-on-wait pair collection — MockParallel's dataset.

    API parity with :class:`~.mapreduce.Dataset`: ``collect``, ``close``,
    ``splits``, ``parter``. ``_tasks`` is the real task list — one
    zero-arg callable per output split/bucket, run in index order.
    """

    def __init__(self, splits: int, tasks: list[Callable[[], list]]):
        self.splits = splits
        self._tasks = tasks
        self._partitions: list[list] | None = None
        self._tasks_done = 0
        self._completed = False  # once-materialized: progress stays 1.0
        # parity of SURFACE with mapreduce.Dataset: the parter declared
        # at map_data is recorded but — exactly like the Spark twin
        # (mapreduce.py:213) — never consulted downstream; partitioning
        # is declared at the CONSUMING reduce via its parter parameter
        # (r10 review: documented so nobody relies on it taking effect)
        self.parter = hash_partition

    def _materialize(self) -> list[list]:
        if self._partitions is None:
            self._tasks_done = 0  # close() recompute restarts the count
            parts = []
            for task in self._tasks:  # deterministic: index order
                parts.append(list(task()))
                self._tasks_done += 1
            self._partitions = parts
            self._completed = True
        return self._partitions

    def collect(self) -> list[tuple]:
        return [p for part in self._materialize() for p in part]

    def close(self) -> None:
        """Free materialized partitions (parity: frees bucket files)."""
        self._partitions = None


def _chunk(pairs: list, splits: int) -> list[list]:
    """Contiguous split like ``SparkContext.parallelize``'s slicing.

    splits <= 0 raises exactly like Spark's parallelize ("Positive
    number of slices required") — the old silent range(0) produced an
    EMPTY dataset from non-empty input in the parity mode (r10 review).
    """
    if splits <= 0:
        raise ValueError(f"Positive number of splits required, got {splits}")
    n = len(pairs)
    return [
        pairs[n * i // splits : n * (i + 1) // splits] for i in range(splits)
    ]


def _read_lines(path: str) -> list[str]:
    """File lines with Spark-textFile parity (r10 review).

    Hadoop's LineRecordReader splits ONLY on \n / \r\n and decodes
    UTF-8 regardless of locale; Python's splitlines() additionally
    splits on \x0b/\x0c/\x1c-\x1e/\x85/\u2028/\u2029 and bare
    read_text() decodes with the locale encoding — either difference
    silently diverges mock/bypass line pairs from the Spark Job on the
    same file.
    """
    text = Path(path).read_text(encoding="utf-8")
    lines = [ln[:-1] if ln.endswith("\r") else ln for ln in text.split("\n")]
    if lines and lines[-1] == "":
        lines.pop()  # trailing newline is a terminator, not an empty line
    return lines


def _combine_pass(pairs: list[tuple], fn: Callable) -> list[tuple]:
    """One grouped combine/reduce pass, keys ascending (shared by both
    debug modes and by map_data/reduce_data in each)."""
    return [(k, v) for k, vals in _sorted_groups(pairs) for v in fn(k, vals)]


def _value_sorted_reduce(pairs: list[tuple], reducer: Callable) -> list[tuple]:
    """Secondary-sort reduce: keys grouped contiguously, values ascending
    (shared by MockParallelJob.reduce_data_sorted and BypassJob's twin)."""
    ordered = sorted(pairs)
    out = []
    for key, group in itertools.groupby(ordered, key=lambda kv: kv[0]):
        for v in reducer(key, (v for _, v in group)):
            out.append((key, v))
    return out


class MockParallelJob:
    """Drop-in ``Job`` twin running every task serially, deterministically.

    Accepts the same calls as :class:`~.mapreduce.Job` (sources,
    transforms, ``wait``, ``progress``) so user programs and
    :class:`~.mapreduce.IterativeMR` drivers run unmodified. ``wait``'s
    ``timeout`` is accepted but moot: tasks run synchronously inside
    ``wait`` (the reference's MockParallel is likewise single-threaded),
    so every requested dataset is ready on return.
    """

    def __init__(self, default_splits: int = 4):
        self.default_splits = default_splits

    # -- sources ----------------------------------------------------------

    def local_data(self, pairs: Iterable[tuple], splits: int = 2) -> MockDataset:
        chunks = _chunk(list(pairs), splits)
        return MockDataset(
            splits, [lambda c=c: c for c in chunks]
        )

    def file_data(self, paths: list[str]) -> MockDataset:
        return MockDataset(
            len(paths),
            [lambda p=p: list(enumerate(_read_lines(p))) for p in paths],
        )

    # -- transforms ---------------------------------------------------------

    def map_data(
        self,
        dataset: MockDataset,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        combiner: Callable | None = None,
    ) -> MockDataset:
        def map_task(i: int) -> list[tuple]:
            out = [
                pair
                for k, v in dataset._materialize()[i]
                for pair in mapper(k, v)
            ]
            if combiner is not None:
                out = _combine_pass(out, combiner)
            return out

        ds = MockDataset(
            splits or self.default_splits,
            [lambda i=i: map_task(i) for i in range(len(dataset._tasks))],
        )
        ds.parter = parter
        return ds

    def _bucketizer(
        self, dataset: MockDataset, n: int, parter: Callable
    ) -> Callable[[int], list[tuple]]:
        """Lazy ONE-PASS shuffle: first bucket request materializes the
        upstream once and routes every pair to its bucket (upstream
        split order preserved within each bucket). The old per-bucket
        rescan evaluated parter n_buckets times per pair — O(n x pairs)
        with an md5 per evaluation (r10 review)."""
        state: dict[str, list[list[tuple]]] = {}

        def get(b: int) -> list[tuple]:
            if not state:
                buckets: list[list[tuple]] = [[] for _ in range(n)]
                for part in dataset._materialize():
                    for k, v in part:
                        buckets[parter(k, n)].append((k, v))
                state["buckets"] = buckets
            return state["buckets"][b]

        return get

    def reduce_data(
        self,
        dataset: MockDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        outdir: str | None = None,
    ) -> MockDataset:
        n = splits or self.default_splits
        bucket = self._bucketizer(dataset, n, parter)

        def reduce_task(b: int) -> list[tuple]:
            return _combine_pass(bucket(b), reducer)

        ds = MockDataset(n, [lambda b=b: reduce_task(b) for b in range(n)])
        if outdir is not None:
            # the Spark twin's saveAsTextFile is an eager action; match it
            out = Path(outdir)
            out.mkdir(parents=True, exist_ok=False)
            for b, part in enumerate(ds._materialize()):
                (out / f"part-{b:05d}").write_text(
                    "".join(f"{k}\t{v}\n" for k, v in part)
                )
        return ds

    def reduce_data_sorted(
        self,
        dataset: MockDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> MockDataset:
        n = splits or self.default_splits
        bucket = self._bucketizer(dataset, n, parter)
        return MockDataset(
            n,
            [
                lambda b=b: _value_sorted_reduce(bucket(b), reducer)
                for b in range(n)
            ],
        )

    def reducemap_data(
        self,
        dataset: MockDataset,
        reducer: Callable,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> MockDataset:
        n = splits or self.default_splits
        bucket = self._bucketizer(dataset, n, parter)

        def task(b: int) -> list[tuple]:
            return [
                pair
                for k, vals in _sorted_groups(bucket(b))
                for v in reducer(k, vals)
                for pair in mapper(k, v)
            ]

        return MockDataset(n, [lambda b=b: task(b) for b in range(n)])

    # -- control ------------------------------------------------------------

    def wait(self, *datasets: MockDataset, timeout: float | None = None):
        for ds in datasets:
            ds._materialize()
        return list(datasets)

    def progress(self, dataset: MockDataset) -> float:
        # _completed, not _partitions: a closed-then-polled dataset
        # reports 1.0 exactly like the Spark twin (whose _materialized
        # flag survives close) instead of sticking at 0.99 (r10 review)
        if dataset._completed or dataset._partitions is not None:
            return 1.0
        if not dataset._tasks:
            return 0.0
        return min(dataset._tasks_done / len(dataset._tasks), 0.99)


class BypassDataset:
    """Eagerly-computed pair collection — Bypass mode's dataset.

    API parity with :class:`~.mapreduce.Dataset` / :class:`MockDataset`
    (``collect``, ``close``, ``splits``); there is exactly one logical
    split and nothing is lazy — bypass computed the pairs at the call
    that produced this object.
    """

    def __init__(self, pairs: list[tuple]):
        self.pairs = list(pairs)
        self.splits = 1
        self.parter = hash_partition

    def collect(self) -> list[tuple]:
        return list(self.pairs)

    def close(self) -> None:
        """No-op: bypass holds no lazy resources to free.

        Dataset.close (Spark) unpersists but a later collect recomputes
        from lineage; MockDataset.close drops partitions but a later
        collect re-runs the tasks. Bypass has no lineage or tasks to
        recompute from, so emptying ``pairs`` here would make a
        close-then-collect sequence silently return [] in exactly one
        run mode — an output-parity violation in the mode whose whole
        contract is parity. Keeping the list is the only behavior where
        all three modes agree.
        """


class BypassJob:
    """A16's fourth run mode: run map/reduce generators INLINE, no tasks.

    The reference's *Bypass* mode [upstream-UNVERIFIED, public knowledge
    of byu-aml-lab/mrs-mapreduce: ``mrs/main.py`` run-implementation
    switch] skips the framework entirely — no splits, no parters, no
    shuffle buckets, no task scheduling; each operation applies the
    user's generators to the whole dataset immediately. That makes it
    the fastest way to sanity-check PROGRAM LOGIC (is my mapper/reducer
    arithmetic right?) with zero machinery in the stack trace, while
    :class:`MockParallelJob` remains the mode that debugs the MACHINERY
    interactions (split boundaries, parter placement, combiner runs).

    Same ``Job`` API surface, so user programs and
    :class:`~.mapreduce.IterativeMR` drivers run unmodified. ``splits``
    and ``parter`` arguments are accepted and ignored — there is one
    inline "split" by definition. Everything is EAGER: ``wait`` has
    nothing to do and ``progress`` is always 1.0.

    Output equality with :class:`~.mapreduce.Job` (Spark) and
    :class:`MockParallelJob` is pinned three-way in
    ``tests/test_mapreduce.py::TestMockParallelParity``.

    Scale note: debugging only, like MockParallel — the whole dataset
    lives in one Python list. Production is the Spark ``Job``.
    """

    def __init__(self, default_splits: int = 1):
        self.default_splits = default_splits

    # -- sources ----------------------------------------------------------

    def local_data(self, pairs: Iterable[tuple], splits: int = 1) -> BypassDataset:
        return BypassDataset(pairs)

    def file_data(self, paths: list[str]) -> BypassDataset:
        return BypassDataset(
            pair
            for path in paths
            for pair in enumerate(_read_lines(path))
        )

    # -- transforms (each computes inline, immediately) -------------------

    def map_data(
        self,
        dataset: BypassDataset,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        combiner: Callable | None = None,
    ) -> BypassDataset:
        out = [pair for k, v in dataset.pairs for pair in mapper(k, v)]
        if combiner is not None:
            # one inline combine pass over the whole (sorted) output —
            # the degenerate single-split case of the framework's
            # map-side combine, output-equal because combiners are
            # reduce-compatible by contract
            out = _combine_pass(out, combiner)
        return BypassDataset(out)

    def reduce_data(
        self,
        dataset: BypassDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        outdir: str | None = None,
    ) -> BypassDataset:
        ds = BypassDataset(_combine_pass(dataset.pairs, reducer))
        if outdir is not None:
            out = Path(outdir)
            out.mkdir(parents=True, exist_ok=False)
            (out / "part-00000").write_text(
                "".join(f"{k}\t{v}\n" for k, v in ds.pairs)
            )
        return ds

    def reduce_data_sorted(
        self,
        dataset: BypassDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> BypassDataset:
        return BypassDataset(_value_sorted_reduce(dataset.pairs, reducer))

    def reducemap_data(
        self,
        dataset: BypassDataset,
        reducer: Callable,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> BypassDataset:
        return BypassDataset(
            pair
            for k, vals in _sorted_groups(dataset.pairs)
            for v in reducer(k, vals)
            for pair in mapper(k, v)
        )

    # -- control (trivial: everything already ran) ------------------------

    def wait(self, *datasets: BypassDataset, timeout: float | None = None):
        return list(datasets)

    def progress(self, dataset: BypassDataset) -> float:
        return 1.0


def make_job(mode: str = "spark", spark=None, **kwargs):
    """Run-mode switch (A16): the reference's CLI ``--mrs=<impl>`` flag.

    ``spark`` → the distributed :class:`~.mapreduce.Job` (requires a
    SparkSession); ``mock_parallel`` → :class:`MockParallelJob`, the
    deterministic full-machinery debug mode; ``bypass`` →
    :class:`BypassJob`, generators applied inline with no task machinery
    at all (the reference's fourth mode; Serial is subsumed by ``Job``'s
    synchronous waits on ``local[1]``).
    """
    if mode == "spark":
        if spark is None:
            raise ValueError("mode='spark' requires a SparkSession")
        from .mapreduce import Job

        return Job(spark, **kwargs)
    if mode == "mock_parallel":
        return MockParallelJob(**kwargs)
    if mode == "bypass":
        return BypassJob(**kwargs)
    raise ValueError(f"unknown run mode {mode!r}")
