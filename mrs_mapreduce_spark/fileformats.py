"""Pair file formats for the parity layer.

Capability parity: ``mrs/fileformats.py`` (SURVEY.md §2.A A3) — the
reference persists datasets as TextWriter (``key<TAB>value`` lines),
HexWriter (hex-encoded pickled pairs, line-oriented, append-safe) and
BinWriter (length-prefixed binary). Spark's shuffle replaces their
*internal* role; these exist for the *external* role — durable pair
datasets a Mrs user wrote and re-read between jobs.

Scale note: these are interchange formats for the RDD parity layer only
(pickle + text encoding); anything analytical belongs in parquet where
scans are columnar and pushdown works.

.. warning:: **Trusted data only.** Hex and binary pair files embed
   pickled Python objects; ``hex_decode_line`` / ``read_hex`` /
   ``read_bin`` call :func:`pickle.loads` on file
   contents, so reading a pair dataset from an untrusted directory can
   execute arbitrary code (the stdlib pickle caveat, inherited from the
   reference format — ``mrs/fileformats.py`` HexReader/BinReader have
   the same property). Never point these readers at data you did not
   write.

.. note:: **Shared-storage contract.** Both formats go through Hadoop
   I/O (``saveAsTextFile``/``textFile`` for hex,
   ``saveAsSequenceFile``/``sequenceFile`` with ``BytesWritable``
   key/value blobs for binary), so both work on any Spark-visible
   filesystem — HDFS, object stores, or local paths in local mode. No
   driver-side directory listing or executor-local ``Path`` writes
   anywhere.
"""

from __future__ import annotations

import pickle

from pyspark.rdd import RDD
from pyspark.sql import SparkSession


# -- hex format: one "hex(pickle(key))<SP>hex(pickle(value))" line per pair


def hex_encode_pair(key, value) -> str:
    return (
        pickle.dumps(key, protocol=4).hex()
        + " "
        + pickle.dumps(value, protocol=4).hex()
    )


def hex_split_line(line: str) -> tuple[str, str]:
    """Split one wire line into (key_hex, value_hex) — THE one place the
    separator convention lives (pairsource's reader shares it, so the
    custom source cannot drift from the canonical codec; r10 review)."""
    k_hex, v_hex = line.strip().split(" ", 1)
    return k_hex, v_hex


def hex_decode_hexes(k_hex: str, v_hex: str) -> tuple:
    """Decode the two hex-pickle cells back to (key, value) objects."""
    return pickle.loads(bytes.fromhex(k_hex)), pickle.loads(
        bytes.fromhex(v_hex)
    )


def hex_decode_line(line: str) -> tuple:
    return hex_decode_hexes(*hex_split_line(line))


def write_hex(rdd: RDD, outdir: str) -> None:
    """One hex part-file per partition (HexWriter parity)."""
    rdd.map(lambda kv: hex_encode_pair(kv[0], kv[1])).saveAsTextFile(outdir)


def read_hex(spark: SparkSession, outdir: str) -> RDD:
    """Read a hex dataset back to a pair RDD (HexReader parity)."""
    return spark.sparkContext.textFile(outdir).map(hex_decode_line)


# -- binary format: Hadoop SequenceFile of (pickle(key), pickle(value))
# BytesWritable blobs. The SequenceFile container supplies the length
# framing the reference's BinWriter hand-rolled ([4-byte len][payload]),
# plus sync markers, splittability and cluster-safe committers for free.


def write_bin(rdd: RDD, outdir: str) -> None:
    """One binary part-file per partition (BinWriter parity), written
    through the Hadoop SequenceFile output committer — executor tasks
    write to any Spark-visible filesystem, no shared driver/executor
    directory required."""
    rdd.map(
        lambda kv: (
            bytearray(pickle.dumps(kv[0], protocol=4)),
            bytearray(pickle.dumps(kv[1], protocol=4)),
        )
    ).saveAsSequenceFile(outdir)


def read_bin(spark: SparkSession, outdir: str) -> RDD:
    """Read a binary dataset back to a pair RDD (BinReader parity)."""
    return spark.sparkContext.sequenceFile(outdir).map(
        lambda kv: (pickle.loads(bytes(kv[0])), pickle.loads(bytes(kv[1])))
    )
