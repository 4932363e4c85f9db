"""amp-traceroute family ingest: IP facts, AS facts, and path dictionaries.

Reference behavior (libnntsc/parsers/amp_traceroute.py):

- every result's hop list is decomposed into an IP path, hop RTTs, and an
  RLE AS path (amp_traceroute.py:588-654; see functions.scalars)
- IP traceroute results insert ONE fact row per result, referencing an
  interned path (dictionary upsert, amp_traceroute.py:279-340) and an
  interned AS path when present
- AS traceroute results aggregate per (stream, batch): most frequent AS
  path wins (first-observed breaks count ties, amp_traceroute.py:637-659),
  ``addresses`` counts results with a real responding address,
  ``errors`` counts results with error_type/error_code set — upgraded from
  NULL to 0 once any address is seen (amp_traceroute.py:588-607
  _update_as_stream)

Design deviation (documented): the reference interns paths into *per-stream*
dictionary tables with per-stream id sequences; here both dictionaries are
single global Delta-style tables deduplicated on path content — same query
semantics (the dictionaries are joined back by id), simpler at scale, and
the dictionary stays broadcast-sized.

Raw input: ``source string, timestamp long, target string, address string,
packet_size long, random boolean, error_type long, error_code long,
ip long, as long, hops array<struct<address:string,rtt:bigint,asn:bigint>>``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import extract_paths_columns
from ..scratch import scratch_persist
from .amp_icmp import icmp_stream_props
from .base import truthy
from .streams import upsert_dimension

log = logging.getLogger(__name__)

UNIQUE_COLS = ["source", "destination", "family", "packet_size"]


def _with_paths(raw: DataFrame) -> DataFrame:
    return extract_paths_columns(icmp_stream_props(raw), "hops")


def split_ip_as(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a traceroute batch into IP-mode and AS-mode result sets.

    ``ip`` flag absent or nonzero -> IP result; else AS results require the
    ``as`` flag nonzero (amp_traceroute.py:508-518).
    """
    df = _with_paths(raw)
    is_ip = F.col("ip").isNull() | (F.col("ip") != 0)
    return df.where(is_ip), df.where(~is_ip & truthy(F.col("as")))


def intern_paths(
    ip_results: DataFrame, existing: DataFrame | None
) -> DataFrame:
    """Upsert observed IP paths into the global paths dictionary."""
    observed = ip_results.select(
        F.col("path"), F.size("path").cast("long").alias("length")
    ).where(F.col("path").isNotNull())
    return upsert_dimension(existing, observed, ["path"], "path_id")


def intern_aspaths(
    results: DataFrame, existing: DataFrame | None
) -> DataFrame:
    """Upsert observed AS paths into the global aspaths dictionary."""
    observed = results.select(
        "aspath", "aspath_length", "uniqueas", "responses"
    ).where(F.col("aspath").isNotNull())
    return upsert_dimension(existing, observed, ["aspath"], "aspath_id")


def process_traceroute_ip(
    raw: DataFrame,
    paths_dim: DataFrame | None = None,
    aspaths_dim: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """IP traceroute fact rows + updated dictionaries.

    Returns (fact, paths_dim, aspaths_dim); fact columns: UNIQUE_COLS +
    timestamp, path_id, aspath_id, packet_size_int, error_type, error_code,
    hop_rtt.
    """
    # The parsed batch feeds three consumers (two dictionary upserts and
    # the fact join); persist it so hop decomposition runs once per batch,
    # not once per consumer.  Micro-batches are bounded, so MEMORY_AND_DISK
    # holds at any input scale.
    ip_results, _ = split_ip_as(raw)
    ip_results = scratch_persist(ip_results)
    paths_dim = intern_paths(ip_results, paths_dim)
    aspaths_dim = intern_aspaths(ip_results, aspaths_dim)
    fact = (
        ip_results.join(
            F.broadcast(paths_dim.select("path_id", "path")), ["path"], "left"
        )
        .join(
            F.broadcast(aspaths_dim.select("aspath_id", "aspath")),
            ["aspath"],
            "left",
        )
        .select(
            *UNIQUE_COLS,
            "timestamp",
            "path_id",
            "aspath_id",
            F.col("packet_size_int"),
            "error_type",
            "error_code",
            "hop_rtt",
        )
    )
    return fact, paths_dim, aspaths_dim


def process_astraceroute(
    raw: DataFrame, aspaths_dim: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """AS traceroute fact rows (one per stream per batch) + updated dict.

    Most-common AS path per (stream, timestamp); count ties broken by
    first observation order (the reference iterates an insertion-ordered
    dict, amp_traceroute.py:637-646) — we track order with a per-batch
    sequence column.
    """
    _, as_results = split_ip_as(raw)
    # count ties broken deterministically: the source's message order when
    # provided (_msg_order — decode_kafka_batch emits struct(partition,
    # offset) automatically), else the lexicographically-smallest AS path —
    # a reproducible surrogate for the reference's insertion order
    # (monotonically_increasing_id was partition-layout- and
    # retry-dependent; r5 review finding)
    if "_msg_order" not in as_results.columns:
        log.warning(
            "process_astraceroute: no _msg_order column on input; modal-"
            "aspath count ties fall back to content order (may differ "
            "from the reference's first-observed-wins on replayed data)"
        )
    as_results = as_results.withColumn(
        "_order",
        F.col("_msg_order")
        if "_msg_order" in as_results.columns
        else F.col("aspath"),
    )
    # Parsed batch fans out to the dictionary upsert (broadcast side) and
    # two aggregations — persist so the hop decomposition runs once.
    as_results = scratch_persist(as_results)
    aspaths_dim = intern_aspaths(as_results, aspaths_dim)
    with_ids = as_results.join(
        F.broadcast(aspaths_dim.select("aspath_id", "aspath")), ["aspath"], "left"
    )
    keys = [*UNIQUE_COLS, "timestamp"]
    real_addr = (~F.col("address").isin("0.0.0.0", "::")).alias("real")
    per_result = with_ids.select(
        *keys,
        "aspath_id",
        "_order",
        F.col("packet_size_int"),
        real_addr,
        (F.col("error_type").isNotNull() | F.col("error_code").isNotNull()).alias(
            "_err"
        ),
    )
    base = per_result.groupBy(*keys).agg(
        F.first("packet_size_int").alias("packet_size_int"),
        F.sum(F.when(F.col("real"), 1)).alias("addresses"),
        # errors: NULL unless an address was seen (then >=0) or an error
        # occurred (counts even without addresses)
        F.when(
            F.sum(F.when(F.col("real") | F.col("_err"), 1)).isNotNull(),
            F.coalesce(F.sum(F.when(F.col("_err"), 1)), F.lit(0)),
        ).alias("errors"),
    )
    # most-common aspath_id per key (count desc, earliest first-seen wins)
    counted = (
        per_result.where(F.col("aspath_id").isNotNull())
        .groupBy(*keys, "aspath_id")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.min("_order").alias("_first"))
    )
    winner = counted.groupBy(*keys).agg(
        F.min_by(
            F.col("aspath_id"),
            F.struct((-F.col("_cnt")).alias("n"), F.col("_first")),
        ).alias("aspath_id")
    )
    fact = base.join(winner, keys, "left").select(
        *keys, "aspath_id", "packet_size_int", "errors", "addresses"
    )
    return fact, aspaths_dim
