"""Compression round trips (Snappy, LZ4, Zstandard, DEFLATE) through
the platform's codec libraries.

Snappy, LZ4 and zstd are the page codecs parquet and ORC files carry,
and DEFLATE (zlib) sits under gzip WARC members, PNG IDAT and zip
shards. The engine takes them from the installed libraries, the way
Hive took its compression from Hadoop's codec classes: ``pyarrow.Codec``
for ``snappy``, ``lz4_raw`` (the LZ4 *block* format; pyarrow's
``"lz4"`` is the frame format) and ``zstd``, and stdlib ``zlib`` for
DEFLATE.

Each entry encodes every document, decodes it again and reports a
per-document census. The oracle predicts the decoded byte length and
md5 straight from the source table, so a decode that drops or mangles
one byte hash-mismatches; compressed sizes are library-defined and
not part of any result.

Scale design: one Arrow ``mapInPandas`` pass after ``spread()``, no
shuffle besides it. Only the codec *name* travels to the workers,
which build the codec themselves, so nothing from this package has to
be importable there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import spread
from hive_clone_spark.registry import register

_ORACLE = """
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
      CAST(octet_length(encode(text)) AS BIGINT) AS decoded_len,
      md5(text) AS decoded_md5,
      TRUE AS roundtrip_ok
    FROM documents ORDER BY doc_id
    """

_SCHEMA = (
    "doc_id BIGINT, orig_len BIGINT, decoded_len BIGINT, "
    "decoded_md5 STRING, roundtrip_ok BOOLEAN"
)


def census_batches(codec: str):
    """The worker-side ``mapInPandas`` function for one codec.

    ``codec`` is a ``pyarrow.Codec`` name, or ``"zlib"`` for DEFLATE at
    level 0 / 1 / 9 chosen by ``doc_id % 3`` (stored, fastest and best
    compression, so every block type zlib emits gets decoded); the
    zlib census also carries that choice as ``zlevel``.

    The decoder is told the exact decoded size (pyarrow requires one).
    pyarrow's snappy and lz4_raw hand back a buffer of that size even
    when the stream decodes shorter, so ``roundtrip_ok`` and the md5
    are computed over the returned bytes, never inferred from lengths.
    """

    def census(batches):
        import hashlib
        import zlib

        import pandas as pd
        import pyarrow as pa

        native = None if codec == "zlib" else pa.Codec(codec)
        levels = ((0, "stored"), (1, "fast"), (9, "best"))
        columns = ["doc_id", "orig_len", "decoded_len", "decoded_md5",
                   "roundtrip_ok"] + (["zlevel"] if native is None else [])
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = str(text).encode("utf-8")
                if native is None:
                    level, zlevel = levels[int(doc_id) % 3]
                    back = zlib.decompress(zlib.compress(raw, level))
                    extra = (zlevel,)
                else:
                    back = native.decompress(
                        native.compress(raw, asbytes=True),
                        decompressed_size=len(raw),
                        asbytes=True,
                    )
                    extra = ()
                rows.append(
                    (int(doc_id), len(raw), len(back),
                     hashlib.md5(back).hexdigest(), back == raw) + extra
                )
            yield pd.DataFrame(rows, columns=columns)

    return census


def _roundtrip(spark: SparkSession, sf_dir: str, codec: str) -> DataFrame:
    schema = _SCHEMA + (", zlevel STRING" if codec == "zlib" else "")
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return d.mapInPandas(census_batches(codec), schema).orderBy("doc_id")


@register("p_snappy_roundtrip", oracle=_ORACLE)
def p_snappy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> Snappy (raw block format) encode + decode -> census."""
    return _roundtrip(spark, sf_dir, "snappy")


@register("p_lz4_roundtrip", oracle=_ORACLE)
def p_lz4_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> LZ4 block-format encode + decode -> census."""
    return _roundtrip(spark, sf_dir, "lz4_raw")


@register("p_zstd_roundtrip", oracle=_ORACLE)
def p_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> Zstandard frame encode + decode -> census."""
    return _roundtrip(spark, sf_dir, "zstd")


@register(
    "p_inflate_roundtrip",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
      CAST(octet_length(encode(text)) AS BIGINT) AS decoded_len,
      md5(text) AS decoded_md5,
      TRUE AS roundtrip_ok,
      CASE doc_id % 3 WHEN 0 THEN 'stored' WHEN 1 THEN 'fast'
        ELSE 'best' END AS zlevel
    FROM documents ORDER BY doc_id
    """,
)
def p_inflate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> zlib compress at level 0 / 1 / 9 (by doc_id % 3) +
    decompress -> census with the level name."""
    return _roundtrip(spark, sf_dir, "zlib")
