"""Arrow-batch UDF wrappers around the pure extraction core.

Zero per-row Python at the Spark row boundary (north_rule): rows cross
into Python as Arrow record batches; inside a batch the per-document
work is C-backed ``re`` and ``unicodedata`` — html goes through the
regex tokenizer in ``core/html_main.py``; ``html.parser`` is only its
pure-Python reference twin, used by the tests. The reference
processes one document per network round-trip (``OCR API
2/ocr_utils.py:6-13``); here one Python invocation handles
``spark.sql.execution.arrow.maxRecordsPerBatch`` documents.

Every function Spark runs in a Python worker ends with
``drop_zip_finders()`` (per-task worker cost: docs/SCALE.md §1).
"""

from __future__ import annotations

import sys
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from ocr_spark.core.extract import extract_turn
from ocr_spark.schema import EXTRACT_STRUCT


def drop_zip_finders() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``.

    pyspark calls ``importlib.invalidate_caches()`` at the start of each
    task; on CPython 3.11 every cached zip finder (one per imported
    package of pyspark.zip, py4j and the shipped ``ocr_spark`` zip) then
    re-reads its whole archive directory, ~0.1 s of CPU per task. Safe:
    a re-created finder takes its file list from
    ``zipimport._zip_directory_cache``, and Spark never rewrites a
    shipped file in place (``spark.files.overwrite`` is false and
    ``ensure_package_shipped`` names the zip uniquely per SparkContext).
    CPython 3.12+ refreshes zip finders lazily; there this is harmless.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def extract_batch(text: pd.Series) -> pd.DataFrame:
    """Run the extraction core over one Arrow batch of payloads."""
    results = [extract_turn(t) for t in text]
    out = pd.DataFrame(
        {
            "kind": pd.Series([r.kind for r in results], dtype="object"),
            "extracted_text": pd.Series(
                [r.extracted_text for r in results], dtype="object"
            ),
            "spans": pd.Series(
                [
                    [{"start": s, "end": e} for s, e in r.spans]
                    for r in results
                ],
                dtype="object",
            ),
            "blocks_kept": pd.Series([r.blocks_kept for r in results], dtype="int32"),
            "blocks_dropped": pd.Series(
                [r.blocks_dropped for r in results], dtype="int32"
            ),
            "bytes_in": pd.Series([r.bytes_in for r in results], dtype="int64"),
            "bytes_out": pd.Series([r.bytes_out for r in results], dtype="int64"),
        },
        index=text.index,
    )
    drop_zip_finders()
    return out


@pandas_udf(EXTRACT_STRUCT)
def extract_udf(text: pd.Series) -> pd.DataFrame:
    """Scalar Arrow UDF: text → extraction struct."""
    return extract_batch(text)


def fields_batch(text: pd.Series) -> pd.DataFrame:
    """Document-field extraction over one Arrow batch (reconstructed
    pdf_like text → fixed field struct; core/fields.py)."""
    from ocr_spark.core.fields import FIELD_NAMES, extract_fields

    results = [extract_fields(t or "") for t in text]
    out = pd.DataFrame(
        {name: pd.Series([getattr(r, name) for r in results], dtype="object")
         for name in FIELD_NAMES},
        index=text.index,
    )
    drop_zip_finders()
    return out


def _fields_struct_type():
    from pyspark.sql.types import StringType, StructField, StructType

    from ocr_spark.core.fields import FIELD_NAMES

    return StructType([StructField(n, StringType()) for n in FIELD_NAMES])


@pandas_udf(_fields_struct_type())
def fields_udf(text: pd.Series) -> pd.DataFrame:
    """Scalar Arrow UDF: reconstructed text → document fields."""
    return fields_batch(text)
