"""Seeded particle swarm (PSO) as an ``IterativeMR`` program.

The paper's own workload: every generation is one producer/consumer round
(``local_data`` -> ``map_data`` -> ``reduce_data`` -> ``Job.wait`` ->
consumer ``collect``). Each particle moves by inertia plus cognitive and
social pulls and emits its new state and a candidate for the global best;
the reduce folds the candidates under one ``"best"`` key.

The map and reduce functions live at module level, so Spark pickles them
by reference; the benchmark ships this file to the workers with
``addPyFile``. Every random draw is seeded by ``(seed, particle,
generation)``, so the Spark run and the ``BypassJob`` twin of the same seed
produce the same swarm bit for bit.
"""

from __future__ import annotations

import functools
import random

DIMS = 5
BOUND = 5.0
W, C1, C2 = 0.7, 1.4, 1.4  # inertia, cognitive, social


def sphere(xs: list[float]) -> float:
    return sum(x * x for x in xs)


def move(seed: int, gen: int, gbest: list[float], key: str, s: tuple):
    pos, vel, bpos, bfit = s
    rng = random.Random(f"{seed}:{key}:{gen}")
    new_vel = [
        W * vel[d]
        + C1 * rng.random() * (bpos[d] - pos[d])
        + C2 * rng.random() * (gbest[d] - pos[d])
        for d in range(DIMS)
    ]
    new_pos = [max(-BOUND, min(BOUND, pos[d] + new_vel[d])) for d in range(DIMS)]
    fit = sphere(new_pos)
    if fit < bfit:
        bpos, bfit = new_pos, fit
    yield (key, (new_pos, new_vel, bpos, bfit))
    yield ("best", (bfit, key, bpos))


def fold_best(key: str, values):
    if key == "best":
        yield min(values)  # (fitness, particle, position), lexicographic
    else:
        yield from values


class Swarm:
    """Producer/consumer program; runs until the caller stops calling it."""

    def __init__(self, seed: int, particles: int, splits: int):
        rng = random.Random(seed)
        self.seed = seed
        self.splits = splits
        self.generation = 0
        self.state = []
        for pid in range(particles):
            pos = [rng.uniform(-BOUND, BOUND) for _ in range(DIMS)]
            self.state.append((f"p{pid:05d}", (pos, [0.0] * DIMS, pos, sphere(pos))))
        fit, key, pos = min((s[3], k, s[2]) for k, s in self.state)
        self.best = (fit, key, pos)

    def producer(self, job):
        step = functools.partial(move, self.seed, self.generation, self.best[2])
        self.generation += 1
        ds0 = job.local_data(self.state, splits=self.splits)
        ds1 = job.map_data(ds0, step)
        return [job.reduce_data(ds1, fold_best, splits=self.splits)]

    def consumer(self, dataset) -> bool:
        pairs = dataset.collect()
        dataset.close()
        self.state = sorted((k, v) for k, v in pairs if k != "best")
        cand = next(v for k, v in pairs if k == "best")
        self.best = min(self.best, cand)
        return True

    def result(self) -> tuple:
        return self.generation, self.best, self.state
