"""MockParallel run mode: the deterministic full-machinery debug twin.

SURVEY.md §2 A16. The reference ships three run modes [upstream-
UNVERIFIED, public knowledge of byu-aml-lab/mrs-mapreduce: ``mrs/main.py``
selects Serial / MockParallel / the networked master-slave mode]:
*Serial* short-circuits the task machinery entirely, while *MockParallel*
runs EVERY task — splits, parters, combiners, shuffle buckets, sorted
reduce groups — in one process, one task at a time, in a deterministic
order, which is what makes it the debug mode: a failing job replays
identically under a debugger with no scheduler nondeterminism.

Spark ``local[1]`` only approximates this: it still schedules through
the DAG scheduler with its own thread, serialization and retry
machinery. :class:`MockParallelJob` is the faithful counterpart: the
SAME user program (a :class:`~.mapreduce.MapReduce` subclass, or an
:class:`~.mapreduce.IterativeMR` producer/consumer program) runs through
the same ``Job`` API surface against plain Python lists — no JVM, no
pickling, no threads. Task order is pinned: upstream datasets
materialize before their consumers, and within a dataset tasks run in
split/bucket index order.

All three run modes share the task bodies in :mod:`.mapreduce`
(``_map_task``, ``_reduce_task``, ``_reducemap_task``,
``_value_sorted_task``, ``_text_line``), so the debug modes replay the
code a Spark task runs. They differ only in how pairs are split and
shuffled: RDD partitions and Spark's shuffle (``Job``), contiguous
splits and parter buckets (``MockParallelJob``), or one list
(``BypassJob``).

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

import functools
from collections.abc import Callable, Iterable
from pathlib import Path

from .mapreduce import (
    _map_task,
    _reduce_task,
    _reducemap_task,
    _text_line,
    _value_sorted_task,
    hash_partition,
)


class MockDataset:
    """Materialized-on-wait pair collection — MockParallel's dataset.

    API parity with :class:`~.mapreduce.Dataset`: ``collect``, ``close``,
    ``splits``. ``_tasks`` is the real task list — one
    zero-arg callable per output split/bucket, run in index order.
    """

    def __init__(self, splits: int, tasks: list[Callable[[], list]]):
        self.splits = splits
        self._tasks = tasks
        self._partitions: list[list] | None = None
        self._tasks_done = 0
        self._completed = False  # once-materialized: progress stays 1.0

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
    number of slices required") rather than returning an EMPTY dataset
    from non-empty input.
    """
    if splits <= 0:
        raise ValueError(f"Positive number of splits required, got {splits}")
    n = len(pairs)
    return [
        pairs[n * i // splits : n * (i + 1) // splits] for i in range(splits)
    ]


def _read_lines(path: str) -> list[str]:
    """File lines with Spark-textFile parity.

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


def _write_parts(outdir: str, parts: Iterable[list[tuple]]) -> None:
    """The in-process text sink: one ``part-NNNNN`` file of
    ``key<TAB>value`` lines per partition, into a directory that must
    not exist yet (as Spark's ``saveAsTextFile`` requires)."""
    out = Path(outdir)
    out.mkdir(parents=True, exist_ok=False)
    for i, part in enumerate(parts):
        (out / f"part-{i:05d}").write_text(
            "".join(_text_line(pair) + "\n" for pair in part)
        )


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
        return MockDataset(
            splits or self.default_splits,
            [
                lambda i=i: _map_task(mapper, combiner, dataset._materialize()[i])
                for i in range(len(dataset._tasks))
            ],
        )

    def _bucketizer(
        self, dataset: MockDataset, n: int, parter: Callable, task: Callable
    ) -> MockDataset:
        """Parter-bucketed shuffle into ``n`` buckets, then ``task`` once
        per bucket, in bucket order. The first task materializes the
        upstream once and routes every pair to its bucket (upstream
        split order preserved within each bucket), so the parter runs
        once per pair, not once per pair per bucket."""
        shuffled: list[list[list[tuple]]] = []

        def run(b: int) -> Iterable[tuple]:
            if not shuffled:
                buckets: list[list[tuple]] = [[] for _ in range(n)]
                for part in dataset._materialize():
                    for k, v in part:
                        buckets[parter(k, n)].append((k, v))
                shuffled.append(buckets)
            return task(shuffled[0][b])

        return MockDataset(n, [functools.partial(run, b) for b in range(n)])

    def reduce_data(
        self,
        dataset: MockDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        outdir: str | None = None,
    ) -> MockDataset:
        task = functools.partial(_reduce_task, reducer)
        ds = self._bucketizer(dataset, splits or self.default_splits, parter, task)
        if outdir is not None:
            # the Spark twin's saveAsTextFile is an eager action; match it
            _write_parts(outdir, ds._materialize())
        return ds

    def reduce_data_sorted(
        self,
        dataset: MockDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> MockDataset:
        return self._bucketizer(
            dataset,
            splits or self.default_splits,
            parter,
            lambda items: _value_sorted_task(reducer, sorted(items)),
        )

    def reducemap_data(
        self,
        dataset: MockDataset,
        reducer: Callable,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> MockDataset:
        task = functools.partial(_reducemap_task, reducer, mapper)
        return self._bucketizer(
            dataset, splits or self.default_splits, parter, task
        )

    # -- control ------------------------------------------------------------

    def wait(self, *datasets: MockDataset, timeout: float | None = None):
        for ds in datasets:
            ds._materialize()
        return list(datasets)

    def progress(self, dataset: MockDataset) -> float:
        # _completed, not _partitions: a closed-then-polled dataset
        # reports 1.0 exactly like the Spark twin (whose _materialized
        # flag survives close) instead of sticking at 0.99
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
        # one map task over the whole list, so the combiner runs once
        # over all map output — the degenerate single-split case of the
        # framework's map-side combine, output-equal because combiners
        # are reduce-compatible by contract
        return BypassDataset(_map_task(mapper, combiner, dataset.pairs))

    def reduce_data(
        self,
        dataset: BypassDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
        outdir: str | None = None,
    ) -> BypassDataset:
        ds = BypassDataset(_reduce_task(reducer, dataset.pairs))
        if outdir is not None:
            _write_parts(outdir, [ds.pairs])
        return ds

    def reduce_data_sorted(
        self,
        dataset: BypassDataset,
        reducer: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> BypassDataset:
        return BypassDataset(_value_sorted_task(reducer, sorted(dataset.pairs)))

    def reducemap_data(
        self,
        dataset: BypassDataset,
        reducer: Callable,
        mapper: Callable,
        splits: int | None = None,
        parter: Callable = hash_partition,
    ) -> BypassDataset:
        return BypassDataset(_reducemap_task(reducer, mapper, dataset.pairs))

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
