"""Label mapping: client-chosen names for groups of streams.

The reference tags every result row with ``nntsclabel`` via a generated SQL
``CASE stream_id IN (...) THEN label END`` and inner-joins the streams table
filtered to the requested ids (reference: libnntsc/dbselect.py:615-630
_generate_label_case; join at dbselect.py:692-718).

Spark-first shape: the label map is a tiny dimension — build it as a local
DataFrame and **broadcast hash join** it to the fact table.  This replaces
both the CASE expression and the per-label query loop (the reference runs one
query per label at dbselect.py:344/495; here all labels execute as one job).
At 100 TB the broadcast join adds no shuffle on the fact side and the
``stream_id`` membership predicate still pushes down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LABEL_COL = "nntsclabel"


def build_label_map(
    spark: SparkSession, labels: dict[str, list[int]]
) -> DataFrame:
    """``{label: [stream_id, ...]}`` -> DataFrame(stream_id, nntsclabel).

    A stream may appear under multiple labels (the reference's CASE picks the
    first match; we keep reference semantics by dropping duplicate stream_ids,
    first label wins in insertion order).
    """
    rows, seen = [], set()
    for label, sids in labels.items():
        for sid in sids:
            if sid not in seen:
                rows.append((int(sid), label))
                seen.add(sid)
    return spark.createDataFrame(rows, schema=f"stream_id long, {LABEL_COL} string")


def apply_labels(fact: DataFrame, label_map: DataFrame) -> DataFrame:
    """Inner broadcast join: prunes to requested streams and tags the label.

    Equivalent to the reference's activestreams INNER JOIN dataunion
    (libnntsc/dbselect.py:692-718) — membership filter + label tag in one op.
    """
    return fact.join(F.broadcast(label_map), "stream_id", "inner")


def labels_where_sql(labels: dict[str, list[int]]) -> str:
    """Oracle-SQL helper: the CASE expression that tags each row's label.

    Label names are client-provided strings interpolated into SQL string
    literals — single quotes are doubled (the SQL escape) so a label like
    "bob's link" stays a literal instead of breaking the statement."""
    whens = " ".join(
        f"WHEN stream_id IN ({', '.join(str(int(s)) for s in sids)})"
        f" THEN '{label.replace(chr(39), chr(39) * 2)}'"
        for label, sids in labels.items()
    )
    return f"CASE {whens} END"
