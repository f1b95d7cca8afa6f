#!/usr/bin/env python
"""Particle swarm optimization via IterativeMR — the reference's flagship.

The PyHPC'12 paper's marquee workload (iterative + asynchronous PSO) on
this engine's parity layer: each generation is ONE map_data/reduce_data
round driven by ``IterativeMR``:

  map     — each particle moves (inertia + cognitive + social pulls),
            evaluates the objective at its new position, and emits both
            its updated state and a candidate for the global best
  reduce  — a single 'best' key folds candidates into the generation's
            global best (min by fitness, tie-broken by particle id)
  consumer— reads the new global best off the reduced dataset and stops
            when the improvement stalls or max generations pass

Determinism: every random draw is seeded by (seed, particle, generation),
so a rerun — or a re-executed Spark task after failure — produces the
identical swarm trajectory (the same property the reference gets from
its resolve-by-name registry + per-task seeds).

Objective: sphere function sum(x_i^2) over 5 dims, minimum 0 at origin.

Usage::

    python examples/pso.py [--particles 32] [--generations 10]
        [--master URL]
"""

from __future__ import annotations

import argparse
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

DIMS = 5
BOUND = 5.0
W, C1, C2 = 0.7, 1.4, 1.4  # inertia, cognitive, social


def sphere(xs: list[float]) -> float:
    return sum(x * x for x in xs)


class PsoProgram:
    """IterativeMR program: producer emits one swarm generation."""

    def __init__(self, job, n_particles: int, seed: int = 11):
        self.job = job
        self.n = n_particles
        self.seed = seed
        self.generation = 0
        self.best: tuple[float, str] | None = None  # (fitness, particle)
        self.stale = 0
        # initial swarm: (particle_id, (pos, vel, pbest_pos, pbest_fit))
        rng = random.Random(seed)
        # string particle keys: the parity layer sorts reduce input by
        # the PYTHON key value (a documented departure from the
        # reference's serialized-key sort), so keys sharing a partition
        # must be mutually comparable with the 'best' key
        self.state = []
        for pid in range(n_particles):
            pos = [rng.uniform(-BOUND, BOUND) for _ in range(DIMS)]
            vel = [0.0] * DIMS
            self.state.append((f"p{pid:05d}", (pos, vel, pos, sphere(pos))))
        self.gbest_pos = min(
            (s for _, s in self.state), key=lambda s: s[3]
        )[2]

    def producer(self, job):
        gen, seed, gbest = self.generation, self.seed, self.gbest_pos
        self.generation += 1

        def move(key, s):
            pos, vel, bpos, bfit = s
            rng = random.Random(f"{seed}:{key}:{gen}")
            new_vel = [
                W * vel[d]
                + C1 * rng.random() * (bpos[d] - pos[d])
                + C2 * rng.random() * (gbest[d] - pos[d])
                for d in range(DIMS)
            ]
            new_pos = [
                max(-BOUND, min(BOUND, pos[d] + new_vel[d]))
                for d in range(DIMS)
            ]
            fit = sphere(new_pos)
            if fit < bfit:
                bpos, bfit = new_pos, fit
            yield (key, (new_pos, new_vel, bpos, bfit))
            yield ("best", (bfit, key, bpos))

        def fold_best(key, values):
            if key == "best":
                yield min(values)  # (fitness, pid, pos): lexicographic
            else:
                yield from values

        ds0 = job.local_data(self.state, splits=4)
        ds1 = job.map_data(ds0, move)
        ds2 = job.reduce_data(ds1, fold_best, splits=4)
        self._last = ds2
        return [ds2]

    def consumer(self, dataset) -> bool:
        pairs = dataset.collect()
        self.state = [
            (k, v) for k, v in pairs if k != "best"
        ]
        fit, key, pos = next(v for k, v in pairs if k == "best")
        if self.best is None or fit < self.best[0] - 1e-12:
            self.best = (fit, key)
            self.gbest_pos = pos
            self.stale = 0
        else:
            self.stale += 1
        return self.stale < 3  # stop after 3 stagnant generations


def run(spark, n_particles: int = 32, generations: int = 10):
    from mrs_mapreduce_spark.mapreduce import IterativeMR, Job

    job = Job(spark, default_splits=4)
    program = PsoProgram(job, n_particles)
    start_best = min(s[3] for _, s in program.state)
    iterations = IterativeMR(program).run(job, max_iterations=generations)
    return start_best, program.best[0], iterations


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--particles", type=int, default=32)
    parser.add_argument("--generations", type=int, default=10)
    parser.add_argument("--master", default=None)
    args = parser.parse_args(argv)

    from mrs_mapreduce_spark.session import get_session

    spark = get_session("pso", master=args.master)
    start, best, iters = run(spark, args.particles, args.generations)
    print(
        f"sphere({DIMS}d): start_best={start:.4f} "
        f"final_best={best:.6f} after {iters} generations"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
