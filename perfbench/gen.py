"""Seeded input tiers for the benchmark.

A tier is ``copies`` copies of a fixture directory under
``perfbench/fixtures/`` with every entity key offset per copy: the
offset-copy recipe of ``scripts/synth_scale.py``, whose ``KEYED`` /
``STRIDE_OF`` / ``DIMENSION_ROOTS`` tables this module reuses (``region``
and ``nation`` are dimension roots and stay as they are). Each replicated
table is written as many parquet files, and the seed decides which file
every row lands in; rows keep their source order inside a file.

Tiers are cached in the checkout under ``.perfbench_cache/tiers/`` (git
ignores it), keyed by seed, source and copy count, with a manifest of row
counts, file counts and bytes per table. :func:`check` compares the tier
with its manifest on every run, so a stale or partial tier fails loudly.

Run as a script it builds (or reuses) one tier and prints its directory::

    python3 perfbench/gen.py --seed 1 --source sf0.01 --copies 10
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
FIXTURES = HERE / "fixtures"
CACHE = ROOT / ".perfbench_cache"
#: rows per written file of a replicated table (at least one file)
ROWS_PER_FILE = 20_000
#: tiers kept in the cache: every run of the benchmark may bring a new seed
KEEP_TIERS = 4

sys.path.insert(0, str(ROOT / "scripts"))
from synth_scale import DIMENSION_ROOTS, KEYED, STRIDE_OF  # noqa: E402


def _key(seed: int, source: str, copies: int) -> str:
    """Cache key: the inputs, plus a hash of this recipe and its fixtures."""
    h = hashlib.sha256(Path(__file__).read_bytes())
    h.update((ROOT / "scripts" / "synth_scale.py").read_bytes())
    for f in sorted((FIXTURES / source).glob("*.parquet")):
        h.update(f"{f.name}:{f.stat().st_size}".encode())
    return f"{source}-c{copies}-s{seed}-{h.hexdigest()[:10]}"


def _files(tdir: Path) -> list[Path]:
    return sorted(tdir.glob("*.parquet")) if tdir.is_dir() else [tdir]


def _table_entry(path: Path) -> dict:
    files = _files(path)
    return {
        "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        "files": len(files),
        "bytes": sum(f.stat().st_size for f in files),
    }


def check(tier: Path) -> dict:
    """The tier's manifest, after checking every table against it."""
    mf = tier / "manifest.json"
    if not mf.exists():
        raise RuntimeError(f"tier {tier} has no manifest: partial build")
    manifest = json.loads(mf.read_text())
    for name, want in manifest["tables"].items():
        got = _table_entry(tier / f"{name}.parquet")
        if got != want:
            raise RuntimeError(f"tier {tier}: {name} is {got}, manifest says {want}")
    return manifest


def _replicate(src: pa.Table, cols: list[str], strides: dict, copies: int) -> pa.Table:
    parts = []
    for c in range(copies):
        t = src
        for col in cols:
            off = pa.scalar(c * strides[STRIDE_OF[col]], pa.int64())
            i = t.schema.get_field_index(col)
            moved = pc.add(t[col].cast(pa.int64()), off).cast(t.schema.field(i).type)
            t = t.set_column(i, t.schema.field(i), moved)
        parts.append(t)
    return pa.concat_tables(parts)


def build(seed: int, source: str = "sf0.01", copies: int = 10) -> Path:
    """Build (or reuse) the tier of ``seed`` and return its directory."""
    tier = CACHE / "tiers" / _key(seed, source, copies)
    if (tier / "manifest.json").exists():
        check(tier)
        return tier
    src_dir = FIXTURES / source
    if not src_dir.is_dir():
        raise FileNotFoundError(f"no fixture directory {src_dir}")
    shutil.rmtree(tier, ignore_errors=True)
    tier.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(src_dir / f"{t}.parquet") for t in (*DIMENSION_ROOTS, *KEYED)}
    # stride = 1 + max(key) of the entity, so replica key ranges are disjoint
    strides = {
        ent: int(pc.max(tables[ent[0]][ent[1]]).as_py()) + 1
        for ent in set(STRIDE_OF.values())
    }
    for name in DIMENSION_ROOTS:
        pq.write_table(tables[name], tier / f"{name}.parquet")
    for name, cols in KEYED.items():
        rep = _replicate(tables[name], cols, strides, copies)
        nfiles = max(1, rep.num_rows // ROWS_PER_FILE)
        out = tier / f"{name}.parquet"
        out.mkdir()
        slot = rng.integers(0, nfiles, size=rep.num_rows)
        for f in range(nfiles):
            rows = rep.take(pa.array(np.flatnonzero(slot == f)))
            pq.write_table(rows, out / f"part-{f:05d}.parquet")
    manifest = {
        "seed": seed,
        "source": source,
        "copies": copies,
        "tables": {
            name: _table_entry(tier / f"{name}.parquet")
            for name in (*DIMENSION_ROOTS, *KEYED)
        },
    }
    (tier / "manifest.json").write_text(json.dumps(manifest, indent=1))
    tiers = sorted((CACHE / "tiers").iterdir(), key=lambda p: p.stat().st_mtime)
    for old in tiers[:-KEEP_TIERS]:
        shutil.rmtree(old, ignore_errors=True)
    return tier


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--source", default="sf0.01", help="directory under perfbench/fixtures")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args(argv)
    tier = build(args.seed, args.source, args.copies)
    print(json.dumps(check(tier)["tables"]))
    print(tier)
    return 0


if __name__ == "__main__":
    sys.exit(main())
