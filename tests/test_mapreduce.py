"""Unit tests for the Mrs-parity layer (SURVEY.md §2.A semantics)."""

from __future__ import annotations

import pytest

from mrs_mapreduce_spark.examples import MonteCarloPi, WordCount
from mrs_mapreduce_spark.mapreduce import (
    IterativeMR,
    Job,
    hash_partition,
    mod_partition,
)


def test_local_data_map_reduce(spark):
    job = Job(spark, default_splits=4)
    program = WordCount()
    ds0 = job.local_data([(0, "a b a"), (1, "b c"), (2, "a")], splits=2)
    ds1 = job.map_data(ds0, program.map, combiner=program.combine)
    ds2 = job.reduce_data(ds1, program.reduce, splits=4)
    assert dict(ds2.collect()) == {"a": 3, "b": 2, "c": 1}


def test_reduce_without_combiner_same_result(spark):
    job = Job(spark, default_splits=4)
    program = WordCount()
    ds0 = job.local_data([(0, "x y x y x")], splits=2)
    ds1 = job.map_data(ds0, program.map)  # no combiner
    ds2 = job.reduce_data(ds1, program.reduce)
    assert dict(ds2.collect()) == {"x": 3, "y": 2}


def test_reducemap_fusion(spark):
    job = Job(spark, default_splits=4)
    program = WordCount()
    ds0 = job.local_data([(0, "aa ab ba aa")], splits=2)
    ds1 = job.map_data(ds0, program.map)
    ds2 = job.reducemap_data(
        ds1, program.reduce, lambda word, cnt: iter([(word[:1], cnt)])
    )
    ds3 = job.reduce_data(ds2, program.reduce)
    assert dict(ds3.collect()) == {"a": 3, "b": 1}


def test_mod_partition_placement(spark):
    """mod_partition must place key k in partition k % n (the Mrs contract)."""
    job = Job(spark, default_splits=4)
    ds0 = job.local_data([(i, i) for i in range(20)], splits=3)
    ds1 = job.reduce_data(
        ds0, lambda k, vs: iter([sum(vs)]), splits=4, parter=mod_partition
    )
    placed = ds1.rdd.mapPartitionsWithIndex(
        lambda idx, items: ((idx, k) for k, _ in items)
    ).collect()
    assert placed, "no pairs placed"
    for part_idx, key in placed:
        assert part_idx == key % 4


def test_hash_partition_range():
    for key in ["abc", 42, ("t", 1)]:
        assert 0 <= hash_partition(key, 7) < 7


def test_file_data_and_sink(spark, tmp_path):
    src = tmp_path / "in.txt"
    src.write_text("hello world\nhello spark\n")
    job = Job(spark, default_splits=2)
    program = WordCount()
    ds0 = job.file_data([str(src)])
    assert sorted(ds0.collect()) == [
        (0, "hello world"),
        (1, "hello spark"),
    ]
    outdir = str(tmp_path / "out")
    ds1 = job.map_data(ds0, program.map)
    job.reduce_data(ds1, program.reduce, splits=2, outdir=outdir)
    lines = spark.sparkContext.textFile(outdir).collect()
    assert sorted(lines) == ["hello\t2", "spark\t1", "world\t1"]


def test_reduce_data_outdir_runs_reducer_once(spark, tmp_path):
    """The save to ``outdir`` fills the cache, so a later wait and collect
    read it instead of running the reducer again."""
    calls = spark.sparkContext.accumulator(0)

    def reducer(key, values):
        calls.add(1)
        yield sum(values)

    job = Job(spark, default_splits=2)
    ds0 = job.local_data([(0, "a b a"), (1, "b c")], splits=2)
    ds1 = job.map_data(ds0, WordCount().map)
    ds2 = job.reduce_data(ds1, reducer, splits=2, outdir=str(tmp_path / "out"))
    assert job.wait(ds2) == [ds2]
    assert job.progress(ds2) == 1.0
    assert dict(ds2.collect()) == {"a": 2, "b": 2, "c": 1}
    assert calls.value == 3


def _load_pso_example():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "examples/pso.py"
    spec = importlib.util.spec_from_file_location("pso", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_wait_materializes_without_python_count(spark, monkeypatch):
    """``Job.wait`` fills the cache with a JVM-side count: with PySpark's
    ``RDD.count`` unusable, a 3-generation PSO on ``Job`` still matches
    its ``BypassJob`` twin."""
    from pyspark import RDD

    from mrs_mapreduce_spark.mockparallel import make_job

    def no_python_count(self):
        raise AssertionError("RDD.count() runs a second Python pass")

    monkeypatch.setattr(RDD, "count", no_python_count)
    pso = _load_pso_example()
    results = []
    for job in (make_job("spark", spark, default_splits=4), make_job("bypass")):
        program = pso.PsoProgram(job, n_particles=16)
        assert IterativeMR(program).run(job, max_iterations=3) == 3
        results.append((program.best, program.gbest_pos, sorted(program.state)))
    assert results[0] == results[1]


def test_parity_query_splits_follow_session(spark, sf_dir, monkeypatch):
    """The registered parity queries take ``Job``'s default splits, so
    their task count follows the session's slots."""
    from pyspark import SparkContext

    from mrs_mapreduce_spark.mapreduce import reduce_sum

    df = reduce_sum(spark, sf_dir)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: 3))
    assert reduce_sum(spark, sf_dir).rdd.getNumPartitions() == 3


def test_monte_carlo_pi(spark):
    """The paper's benchmark family: deterministic seeded pi estimate."""
    job = Job(spark, default_splits=2)
    program = MonteCarloPi()
    ds0 = job.local_data([(i, 20000) for i in range(8)], splits=4)
    ds1 = job.map_data(ds0, program.map)
    ds2 = job.reduce_data(ds1, program.reduce, splits=1)
    (_, pi_est), = ds2.collect()
    assert abs(pi_est - 3.14159) < 0.05


def test_wait_and_progress(spark):
    job = Job(spark)
    ds = job.local_data([(1, "x")])
    assert job.progress(ds) == 0.0
    ready = job.wait(ds)
    assert ready == [ds]
    assert job.progress(ds) == 1.0


def test_wait_reraises_failed_materialization(spark):
    """A dataset whose mapper raises is not reported ready: wait re-raises
    the worker error and progress stays below 1.0."""
    job = Job(spark, default_splits=2)

    def bad_map(key, value):
        raise ValueError("bad record")
        yield key, value

    ds = job.map_data(job.local_data([(1, 1), (2, 2)], splits=2), bad_map)
    with pytest.raises(Exception, match="bad record"):
        job.wait(ds)
    assert not ds._materialized and ds._future is None
    assert job.progress(ds) < 1.0


class ConvergingProgram:
    """Doubles a value until it exceeds 100 (IterativeMR contract test)."""

    def __init__(self):
        self.value = 1
        self.seen = []

    def producer(self, job):
        self.value *= 2
        return [job.local_data([(0, self.value)])]

    def consumer(self, dataset):
        val = dataset.collect()[0][1]
        self.seen.append(val)
        return val < 100


def test_iterative_mr_loop(spark):
    program = ConvergingProgram()
    job = Job(spark)
    iterations = IterativeMR(program).run(job)
    assert program.seen[-1] == 128
    assert iterations == 7


def test_wait_timeout_returns_ready_subset(spark):
    """A13 parity: wait(timeout) returns the subset done in time; a later
    wait picks up the stragglers."""
    import time

    job = Job(spark, default_splits=2)
    # warm the scheduler so the timed wait below measures the datasets,
    # not first-action session overhead (flaky under cold start)
    job.wait(job.local_data([(0, 0)], splits=1), timeout=30)
    fast = job.local_data([(i, i) for i in range(10)], splits=2)

    def slow_map(key, value):
        time.sleep(8.0)
        yield (key, value)

    slow_src = job.local_data([(i, i) for i in range(8)], splits=8)
    slow = job.map_data(slow_src, slow_map)

    ready = job.wait(fast, slow, timeout=3.0)
    assert fast in ready  # fast dataset materializes ~instantly
    remaining = [ds for ds in (fast, slow) if ds not in ready]
    # eventually everything completes
    all_ready = job.wait(fast, slow, timeout=30)
    assert set(all_ready) == {fast, slow}
    assert job.progress(slow) == 1.0
    assert remaining == [] or remaining == [slow]


def test_wait_concurrent_materialization(spark):
    """Two independent datasets overlap their Spark jobs in wait()."""
    import time

    job = Job(spark, default_splits=2)
    # warm the scheduler so the timed section measures the maps, not
    # first-action session overhead (flaky under cold start / host noise)
    job.wait(job.local_data([(0, 0)], splits=1), timeout=30)

    def lazy_map(key, value):
        time.sleep(3.0)
        yield (key, value)

    a = job.map_data(job.local_data([(1, 1)], splits=1), lazy_map)
    b = job.map_data(job.local_data([(2, 2)], splits=1), lazy_map)
    t0 = time.perf_counter()
    job.wait(a, b)
    elapsed = time.perf_counter() - t0
    # serial would be >= 6s; concurrent leaves >2.9s of headroom for
    # scheduling noise
    assert elapsed < 5.9, elapsed


def test_reduce_data_sorted_orders_values(spark):
    """reduce_data_sorted must deliver each key's values ascending,
    whatever the input order, with groups contiguous per key."""
    import random as _random

    from mrs_mapreduce_spark.mapreduce import Job

    rng = _random.Random(7)
    pairs = [(k, v) for k in range(5) for v in range(40)]
    rng.shuffle(pairs)

    def check_sorted(key, vals):
        vals = list(vals)
        assert vals == sorted(vals), (key, vals[:5])
        yield len(vals)

    job = Job(spark, default_splits=4)
    ds = job.local_data(pairs, splits=4)
    out = job.reduce_data_sorted(ds, check_sorted, splits=3).collect()
    assert sorted(out) == [(k, 40) for k in range(5)]


def test_pso_example_converges_deterministically(spark):
    """The reference's flagship workload (PSO via IterativeMR): the swarm
    must improve on its initial best and two runs must agree exactly."""
    mod = _load_pso_example()
    start, best, iters = mod.run(spark, n_particles=16, generations=6)
    assert best < start
    assert 1 <= iters <= 6
    start2, best2, iters2 = mod.run(spark, n_particles=16, generations=6)
    assert (start2, best2, iters2) == (start, best, iters)


def test_progress_reports_task_fractions_midflight(spark):
    """A14 parity: during an async materialization, Job.progress reports
    the completed-task fraction from the status tracker — strictly
    between 0 and 1 while staggered tasks finish, 1.0 only once the
    dataset materializes."""
    import time

    job = Job(spark, default_splits=8)
    job.wait(job.local_data([(0, 0)], splits=1), timeout=30)  # warm

    def staggered_map(key, value):
        time.sleep(0.5 + key * 0.9)  # tasks finish one by one
        yield (key, value)

    src = job.local_data([(i, i) for i in range(8)], splits=8)
    slow = job.map_data(src, staggered_map)
    job.wait(slow, timeout=0.1)  # kick off async, don't block

    midflight = []
    deadline = time.time() + 30
    while time.time() < deadline:
        ready = job.wait(slow, timeout=0.2)
        if ready:
            break
        p = job.progress(slow)
        assert 0.0 <= p <= 0.99  # in-flight never reports completion
        midflight.append(p)
    assert job.wait(slow, timeout=30) == [slow]
    assert job.progress(slow) == 1.0
    # staggered tasks guarantee at least one genuinely partial reading
    assert any(0.0 < p < 1.0 for p in midflight), midflight
    assert midflight == sorted(midflight)  # task counts only grow


def test_fair_scheduler_concurrent_wait_and_progress(spark):
    """A13+A14 integration (r8 verdict task 6): two concurrent datasets
    flow through Job.wait; per-dataset scheduler POOLS under FAIR mode
    make them genuinely share task slots. The discriminating setup: two
    jobs of 16 one-second tasks on 8 local slots — under default-pool
    FIFO the first-submitted job holds EVERY slot for both of its waves
    (the second job completes zero tasks until the first fully drains),
    while per-pool FAIR splits the slots so the second job completes
    tasks throughout. Also pins ready-subset semantics and per-dataset
    progress monotonicity."""
    import time

    # Under the SPARK_GRAFT_SCHEDULER=FIFO A/B override (session.py,
    # the round-10 drift-attribution knob) the test's premise doesn't
    # hold — skip rather than fail the intentional configuration.
    if spark.sparkContext.getConf().get("spark.scheduler.mode") != "FAIR":
        pytest.skip("scheduler overridden to non-FAIR (A/B attribution run)")
    # The 'fast strictly first' / 'slow >= 3/16 at fast-done' thresholds
    # assume ~8 concurrent local task slots; on a low-core or loaded CI
    # host the slot math (two 16-task waves vs shared slots) no longer
    # discriminates FIFO from FAIR, so the assertions would flake (r9
    # ADVICE). Skip rather than weaken the thresholds.
    if spark.sparkContext.defaultParallelism < 8:
        pytest.skip("needs >= 8 concurrent local task slots")

    job = Job(spark, default_splits=8)
    job.wait(job.local_data([(0, 0)], splits=1), timeout=30)  # warm

    def fast_map(key, value):
        time.sleep(1.0)
        yield (key, value)

    def slow_map(key, value):
        time.sleep(1.4)
        yield (key, value)

    fast = job.map_data(
        job.local_data([(i, i) for i in range(16)], splits=16), fast_map
    )
    slow = job.map_data(
        job.local_data([(i, i) for i in range(16)], splits=16), slow_map
    )
    # submission order matters for the FIFO counterfactual: fast first
    job.wait(fast, timeout=0.05)
    job.wait(slow, timeout=0.05)

    seen_fast, seen_slow = [], []
    deadline = time.time() + 120
    ready: list = []
    while time.time() < deadline and fast not in ready:
        ready = job.wait(fast, slow, timeout=0.2)
        seen_fast.append(job.progress(fast))
        seen_slow.append(job.progress(slow))
    # ready-subset semantics: equal shares + shorter tasks => fast
    # finishes first; the ready subset at that moment is exactly {fast}
    assert fast in ready and slow not in ready, ready
    # THE FAIR assertion: the later-submitted job completed a real share
    # of its tasks before the earlier one drained. Under default-pool
    # FIFO this is 0/16 (fast's two full waves monopolize all 8 slots);
    # under per-dataset pools it is ~half. Threshold 3/16 leaves a wide
    # scheduling-noise margin while staying impossible under FIFO.
    slow_at_fast_done = job.progress(slow)
    assert slow_at_fast_done >= 3 / 16, (slow_at_fast_done, seen_slow)
    # keep polling the straggler to completion, recording its fractions
    while time.time() < deadline and slow not in ready:
        ready = job.wait(fast, slow, timeout=0.2)
        seen_slow.append(job.progress(slow))
    assert set(ready) == {fast, slow}, ready
    # monotonic per dataset: completed-task counts only grow
    assert seen_fast == sorted(seen_fast), seen_fast
    assert seen_slow == sorted(seen_slow), seen_slow
    # genuinely partial mid-flight readings on both datasets
    assert any(0.0 < p < 1.0 for p in seen_fast), seen_fast
    assert any(0.0 < p < 1.0 for p in seen_slow), seen_slow
    assert job.progress(fast) == job.progress(slow) == 1.0


class TestMockParallelParity:
    """A16: MockParallelJob must produce EXACTLY what the Spark-backed
    Job produces for the same program text — that equivalence is what
    makes it a debug mode rather than a second implementation to trust
    separately. Each test runs both modes and compares."""

    def _modes(self, spark):
        from mrs_mapreduce_spark.mockparallel import make_job

        return (
            make_job("spark", spark, default_splits=4),
            make_job("mock_parallel", default_splits=4),
            make_job("bypass"),
        )

    def test_wordcount_with_combiner_matches_spark(self, spark):
        program = WordCount()
        pairs = [(i, f"w{i % 5} w{i % 3} common") for i in range(40)]
        outs = []
        for job in self._modes(spark):
            ds0 = job.local_data(pairs, splits=3)
            ds1 = job.map_data(ds0, program.map, combiner=program.combine)
            ds2 = job.reduce_data(ds1, program.reduce, splits=4)
            outs.append(sorted(ds2.collect()))
        assert outs[0] == outs[1] == outs[2]

    def test_secondary_sort_matches_spark(self, spark):
        import random as _random

        rng = _random.Random(11)
        pairs = [(k, v) for k in range(4) for v in range(25)]
        rng.shuffle(pairs)

        def first_last(key, vals):
            vals = list(vals)
            assert vals == sorted(vals)
            yield (vals[0], vals[-1], len(vals))

        outs = []
        for job in self._modes(spark):
            ds = job.local_data(list(pairs), splits=4)
            outs.append(
                sorted(job.reduce_data_sorted(ds, first_last, splits=3).collect())
            )
        assert outs[0] == outs[1] == outs[2] == [
            (k, (0, 24, 25)) for k in range(4)
        ]

    def test_reducemap_and_mod_parter_match_spark(self, spark):
        program = WordCount()
        outs = []
        for job in self._modes(spark):
            ds0 = job.local_data([(0, "aa ab ba aa bb ab")], splits=2)
            ds1 = job.map_data(ds0, program.map, parter=mod_partition)
            ds2 = job.reducemap_data(
                ds1, program.reduce, lambda w, c: iter([(w[:1], c)])
            )
            ds3 = job.reduce_data(ds2, program.reduce)
            outs.append(sorted(ds3.collect()))
        assert outs[0] == outs[1] == outs[2] == [("a", 4), ("b", 2)]

    def test_text_sink_matches_spark(self, spark, tmp_path):
        program = WordCount()
        contents = []
        for name, job in zip(("spark", "mock", "bypass"), self._modes(spark)):
            src = tmp_path / f"in_{name}.txt"
            src.write_text("hello world\nhello mock\n")
            outdir = tmp_path / f"out_{name}"
            ds0 = job.file_data([str(src)])
            ds1 = job.map_data(ds0, program.map)
            job.reduce_data(ds1, program.reduce, splits=2, outdir=str(outdir))
            lines = []
            for part in sorted(outdir.glob("part-*")):
                lines += part.read_text().splitlines()
            contents.append(sorted(lines))
        assert contents[0] == contents[1] == contents[2]

    def test_iterative_driver_runs_unmodified(self, spark):
        from mrs_mapreduce_spark.mockparallel import BypassJob, MockParallelJob

        for job in (MockParallelJob(), BypassJob()):
            program = ConvergingProgram()
            iterations = IterativeMR(program).run(job)
            assert program.seen[-1] == 128
            assert iterations == 7

    def test_montecarlo_pi_bitwise_equal_across_modes(self, spark):
        # per-task seeded RNG: the SAME task grid must give the SAME
        # estimate in both modes, bit for bit — scheduler-independence
        program = MonteCarloPi()
        tasks = [(i, 2000) for i in range(8)]
        vals = []
        for job in self._modes(spark):
            ds0 = job.local_data(tasks, splits=4)
            ds1 = job.map_data(ds0, program.map)
            ds2 = job.reduce_data(ds1, program.reduce, splits=1)
            vals.append(ds2.collect()[0][1])
        assert vals[0] == vals[1] == vals[2]

    def test_mock_runs_are_deterministic_and_progress_counts(self):
        from mrs_mapreduce_spark.mockparallel import MockParallelJob

        program = WordCount()
        runs = []
        for _ in range(2):
            job = MockParallelJob(default_splits=3)
            ds0 = job.local_data([(i, "a b a c") for i in range(9)], splits=3)
            ds1 = job.map_data(ds0, program.map, combiner=program.combine)
            ds2 = job.reduce_data(ds1, program.reduce)
            assert job.progress(ds2) == 0.0  # nothing ran yet: lazy
            ready = job.wait(ds2)
            assert ready == [ds2]
            assert job.progress(ds2) == 1.0
            runs.append(ds2.collect())  # UNsorted: order itself is pinned
        assert runs[0] == runs[1]
        assert dict(runs[0]) == {"a": 18, "b": 9, "c": 9}


class TestBypassMockParity:
    """Property-based closure of the A16 parity triangle: Spark<->Mock is
    pinned above on fixed programs; Mock<->Bypass is pinned here over
    RANDOM programs (no JVM involved, so hypothesis can afford many
    examples). Both modes must agree on the full map(+combine)/
    shuffle/reduce(+secondary-sort/reducemap) surface regardless of
    split counts, parters, or key distributions."""

    def test_close_then_collect_agrees_across_modes(self, spark):
        """close() frees resources but never changes what a later
        collect() returns: Spark recomputes from lineage, MockParallel
        re-runs its tasks, Bypass holds the list — all three must hand
        back the same data after a close (the review-found bypass
        divergence where close-then-collect returned [])."""
        from mrs_mapreduce_spark.mockparallel import make_job

        pairs = [(i % 3, i) for i in range(12)]
        outs = []
        for job in (
            make_job("spark", spark, default_splits=2),
            make_job("mock_parallel", default_splits=2),
            make_job("bypass"),
        ):
            ds = job.map_data(
                job.local_data(pairs, splits=2),
                lambda k, v: iter([(k, v + 1)]),
            )
            before = sorted(ds.collect())
            ds.close()
            after = sorted(ds.collect())
            assert before == after
            outs.append(after)
        assert outs[0] == outs[1] == outs[2]

    @staticmethod
    def _run(job, pairs, splits_in, splits_out, mod_key, fused,
             use_combiner):
        from mrs_mapreduce_spark.mapreduce import mod_partition

        def mapper(key, value):
            yield (key % mod_key, value)
            if value % 3 == 0:  # 1:n fan-out branch
                yield ((key + 1) % mod_key, value * 2)

        def combiner(key, vals):
            yield sum(vals)

        if use_combiner:
            # combiner contract: reduce output must be independent of
            # combining granularity, so the reducer is the same monoid
            def reducer(key, vals):
                yield sum(vals)
        else:
            # no combiner -> reduce sees the raw multiset; counts are
            # granularity-safe here and exercise multi-valued groups
            def reducer(key, vals):
                vals = list(vals)
                yield (sum(vals), len(vals))

        ds = job.local_data(pairs, splits=splits_in)
        mapped = job.map_data(
            ds, mapper, splits=splits_out,
            combiner=combiner if use_combiner else None,
        )
        if fused:
            out = job.reducemap_data(
                mapped,
                lambda k, vs: iter([sum(vs)]),
                lambda k, v: iter([(k % 2, v)]),
                parter=mod_partition,
            )
            out = job.reduce_data(out, lambda k, vs: iter([sum(vs)]))
        else:
            out = job.reduce_data(mapped, reducer, splits=3)
        return sorted(out.collect())

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        pairs=st.lists(
            st.tuples(
                st.integers(min_value=-50, max_value=50),
                st.integers(min_value=-100, max_value=100),
            ),
            min_size=0,
            max_size=60,
        ),
        splits_in=st.integers(min_value=1, max_value=5),
        splits_out=st.integers(min_value=1, max_value=5),
        mod_key=st.integers(min_value=1, max_value=7),
        fused=st.booleans(),
        use_combiner=st.booleans(),
    )
    @settings(max_examples=150, deadline=None)
    def test_outputs_identical(
        self, pairs, splits_in, splits_out, mod_key, fused, use_combiner
    ):
        from mrs_mapreduce_spark.mockparallel import make_job

        mock = self._run(
            make_job("mock_parallel", default_splits=3),
            pairs, splits_in, splits_out, mod_key, fused, use_combiner,
        )
        bypass = self._run(
            make_job("bypass"),
            pairs, splits_in, splits_out, mod_key, fused, use_combiner,
        )
        assert mock == bypass


def test_contract_violating_combiner_divergence_is_visible():
    """r9 ADVICE: BypassJob combines ONCE globally while MockParallelJob
    combines per map split. For a combiner honoring the documented
    contract (reduce-compatible, so combining partials re-combines
    cleanly) the modes agree — pinned by TestMockParallelParity. This
    pins the FLIP side: a contract-VIOLATING combiner (sum+1, so each
    extra combine pass adds another +1) diverges VISIBLY between the
    modes instead of agreeing by luck. If this ever fails, Bypass
    started mimicking per-split combining and its documented
    single-pass semantics changed."""
    from mrs_mapreduce_spark.mockparallel import make_job

    def mapper(key, value):
        yield ("k", value)

    def bad_combiner(key, vals):  # NOT reduce-compatible
        yield sum(vals) + 1

    def reducer(key, vals):
        yield sum(vals)

    outs = {}
    for mode in ("mock_parallel", "bypass"):
        job = make_job(mode, default_splits=2)
        ds0 = job.local_data([(i, 10) for i in range(4)], splits=2)
        ds1 = job.map_data(ds0, mapper, combiner=bad_combiner)
        ds2 = job.reduce_data(ds1, reducer, splits=1)
        outs[mode] = sorted(ds2.collect())
    # mock: 2 splits of 2 pairs -> two partial combines -> (10+10+1)*2=42
    assert outs["mock_parallel"] == [("k", 42)]
    # bypass: one global combine over all four pairs -> 40+1=41
    assert outs["bypass"] == [("k", 41)]


def test_mock_progress_after_close_matches_spark(spark):
    """r10 review: a materialized-then-closed MockDataset must report
    progress 1.0 (like the Spark twin, whose flag survives close) —
    not stick at 0.99 forever."""
    from mrs_mapreduce_spark.mockparallel import make_job

    mock = make_job("mock_parallel", default_splits=2)
    ds = mock.local_data([(i, i) for i in range(4)], splits=2)
    mock.wait(ds)
    assert mock.progress(ds) == 1.0
    ds.close()
    assert mock.progress(ds) == 1.0
    # recompute after close still works and the counter stays sane
    assert sorted(ds.collect()) == [(i, i) for i in range(4)]
    assert mock.progress(ds) == 1.0


def test_mock_zero_splits_raises_like_spark(spark):
    """r10 review: splits=0 raised in the Spark Job (parallelize) but
    silently produced an EMPTY dataset in MockParallel."""
    from mrs_mapreduce_spark.mockparallel import make_job

    mock = make_job("mock_parallel")
    with pytest.raises(ValueError, match="Positive number"):
        mock.local_data([(1, 1)], splits=0)


def test_file_data_line_parity_formfeed_and_utf8(spark, tmp_path):
    """r10 review: Python splitlines() splits on form feed / U+2028
    where Spark's textFile (Hadoop LineRecordReader) does not, and bare
    read_text() decodes with the locale. All three modes must yield the
    same (line_no, line) pairs for such a file."""
    from mrs_mapreduce_spark.mockparallel import make_job

    src = tmp_path / "tricky.txt"
    # one \n-terminated line CONTAINING a form feed and a non-ASCII char
    src.write_bytes("alpha\x0cbeta café\nsecond line\n".encode("utf-8"))

    outs = []
    for mode in ("spark", "mock_parallel", "bypass"):
        job = make_job(mode, spark if mode == "spark" else None)
        outs.append(sorted(job.file_data([str(src)]).collect()))
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 2  # the form feed did NOT split the line
