"""Raw-file directory source and restore-to-files sink.

The reference's outermost I/O is directory-shaped: it enumerates an input
directory with ``readdir``, filtering on a filename suffix
(``/root/reference/main.c:338-346`` for the ``.idp`` restore scan,
``/root/reference/idedup.c:94-100`` for the two-level compress walk),
reads each file's raw bytes, and the restore path ``mkdir``s the output
tree and ``fwrite``s one reconstructed file per input
(``/root/reference/main.c:355-357``, ``idedup.c:344``). Spark-first
mapping — no hand-rolled listing, no driver-side loops:

* **ingestion** = the built-in ``binaryFile`` data source. File listing is
  planned distributed by Spark's file index; ``pathGlobFilter`` is the
  reference's suffix filter applied *during listing* (files that miss the
  glob are never opened, the analog of skipping ``readdir`` entries);
  ``recursiveFileLookup`` covers the reference's nested
  dataset-dir/file-dir layout. Each row is
  ``(path, modificationTime, length, content)``.
* **normalization** = ``ingest_documents``: magic-prefix media sniff and
  UTF-8 text decode as pure JVM expressions (``substring`` on BINARY,
  ``is_valid_utf8``/``decode`` — no Python in the scan), emitting the
  canonical ``documents`` table shape every downstream stage consumes.
* **restore sink** = ``restore_to_directory``: executors write one file
  per row under the output root via ``mapInPandas`` (temp-name +
  ``os.replace`` so a killed task never leaves a torn file), returning a
  per-partition count DataFrame so the sink's work is checkable — the
  DataFrame analog of the reference's per-file restore counters
  (``main.c:371-373``).

Scale notes (the 100 TB shape):

* ``binaryFile`` keeps whole files in single cells, so it is the right
  source for *document-sized* payloads (pages, images, audio clips); the
  4 GiB column limit and executor memory bound the per-file size exactly
  like the reference's whole-file ``malloc``. Multi-TB container files
  (WARC, tar) would instead get a chunk-splitting custom reader.
* the raw directory is read ONCE: ``ingest_documents`` output is meant to
  be written to parquet (``pipeline.checkpoint`` / Iceberg) so the
  billions-of-small-files listing cost is paid a single time and every
  later stage scans columnar storage with pushdown.
* restore writes land on a shared filesystem / object store on a real
  cluster (every executor sees ``out_dir``); local mode writes to the
  local tree, which the tests exercise byte-exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: magic-prefix -> media_type, JVM-side (hex of the leading bytes).
#: JPEG/PNG/RIFF-WAV are the real container magics; FPNG marks a
#: length-prefixed frame stream, which is binary, not text, even when
#: its bytes happen to be valid UTF-8.
_MAGIC_CASES = (
    ("FFD8FF", "jpeg"),
    ("89504E470D0A1A0A", "png"),
    ("52494646", "riff"),
    ("46504E47", "fpng"),
)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Distributed directory scan -> (path, modificationTime, length,
    content) rows. ``glob`` is applied at listing time (the reference's
    suffix filter, ``main.c:341-344``); ``recursive`` mirrors its nested
    walk (``idedup.c:94-100``)."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.option("recursiveFileLookup", str(recursive).lower()).load(path)


def classify_media(df: DataFrame, bin_col: str = "content") -> DataFrame:
    """Add ``media_type`` from the payload's magic prefix — pure JVM
    expression (no Python, no extra scan): jpeg/png/riff/fpng by
    container magic, else ``text`` when the payload is valid UTF-8,
    else ``other``."""
    cases = " ".join(
        f"WHEN startswith(hex(substring({bin_col}, 1, {len(h) // 2})), '{h}')"
        f" THEN '{t}'"
        for h, t in _MAGIC_CASES
    )
    return df.withColumn(
        "media_type",
        F.expr(
            f"CASE {cases} WHEN is_valid_utf8({bin_col}) THEN 'text' "
            "ELSE 'other' END"
        ),
    )


def ingest_documents(bin_df: DataFrame, bin_col: str = "content") -> DataFrame:
    """binaryFile rows -> the canonical ``documents`` shape
    (doc_id, text, lang, source, n_chars) + (media_type, content).

    * ``doc_id = xxhash64(path)``: the 64-bit surrogate key every hot
      stage shuffles (longs, not paths — same reasoning as the corpus
      bench's ``__doc_key__``); a collision is content-checked away in
      verification downstream.
    * ``text`` decodes only valid-UTF-8 payloads (CASE-guarded, so ANSI
      ``decode`` can never throw on binary payloads); media payloads keep
      ``text`` NULL and flow to the codec lanes via ``content``.
    * ``lang`` is left NULL — language ID is ``textfns.lang_id``'s job on
      the ingested table, not the scanner's.
    """
    df = classify_media(bin_df, bin_col)
    return df.select(
        F.xxhash64(F.col("path")).alias("doc_id"),
        F.expr(
            f"CASE WHEN media_type = 'text' THEN decode({bin_col}, 'UTF-8') END"
        ).alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.col("path").alias("source"),
        F.expr(
            f"CASE WHEN media_type = 'text' "
            f"THEN length(decode({bin_col}, 'UTF-8')) ELSE 0 END"
        ).cast("long").alias("n_chars"),
        "media_type",
        F.col(bin_col).alias("content"),
    )


def restore_to_directory(
    df: DataFrame,
    out_dir: str,
    name_col: str = "name",
    content_col: str = "content",
) -> DataFrame:
    """Write one file per row under ``out_dir`` from the executors; returns
    a one-column DataFrame of per-batch written counts (sum it to get the
    total — forcing the count IS forcing the writes).

    ``name_col`` must be a relative path (the reference strips its ``.idp``
    suffix to name restored outputs, ``main.c:352-354``); nested subdirs
    are created on demand (``mkdir`` analog, ``main.c:355-357``). Writes
    are temp-name + ``os.replace``: at-least-once task retries converge to
    the same final bytes, never a torn file. Absolute names and ``..``
    escapes are rejected loudly — a restore must stay inside its root.
    """
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    def write_batches(batches):
        import pandas as pd

        pid = os.getpid()
        for pdf in batches:
            n = 0
            for name, payload in zip(pdf[name_col], pdf[content_col]):
                rel = os.path.normpath(str(name))
                if os.path.isabs(rel) or rel.startswith(".."):
                    raise ValueError(f"restore name escapes out_dir: {name!r}")
                dest = os.path.join(out_dir, rel)
                os.makedirs(os.path.dirname(dest) or out_dir, exist_ok=True)
                tmp = f"{dest}.tmp.{pid}"
                with open(tmp, "wb") as fh:
                    fh.write(bytes(payload))
                os.replace(tmp, dest)
                n += 1
            yield pd.DataFrame({"n_written": [n]})

    return df.select(name_col, content_col).mapInPandas(
        write_batches, schema="n_written long"
    )
