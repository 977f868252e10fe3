"""Stage 03: tri-format header normalization -> staging header DataFrame.

Faithful port of ``/root/reference/sql/03_transform_headers.sql``:
per-format COALESCE key-precedence parsing (:11-55), UNION ALL (:56-62),
canonical-ID enrichment (:63-75), survivorship ranking (:76-82), and the
header-level anomaly-code array (:83-104).

The staging result replaces the reference's session TEMP table; callers
``.cache()`` it because stages 04/05/06 all consume it
(docs/architecture.md:28-37). One shuffle total: W1+W2 share the
(client_id, source_txn_id) partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalars
from ..functions.variant import vstr_chain
from ..operators.dedupe import rank_duplicates
from ..schemas import MONEY


def _attributes_json(payload_json: F.Column, payload_key: str, fmt: str) -> F.Column:
    """OBJECT_CONSTRUCT('<key>', payload, 'source_format', fmt) as a canonical
    JSON string (reference :22,:37,:52; JSON-string decision per SURVEY §1.2)."""
    return F.concat(
        F.lit('{"%s":' % payload_key),
        payload_json,
        F.lit(',"source_format":"%s"}' % fmt),
    )


# The per-format source-id path chains (reference :13, :28, :43): the rank
# key ``transform_headers`` partitions on, and the key-only projection the
# delta closure (``rank_keys``) reads, written once for both.
_SOURCE_TXN_ID = {
    "JSON": lambda p: vstr_chain(p, "transaction_id", "txn_id", "id"),
    "XML": lambda p: vstr_chain(
        p, "$['@transaction_id']", "transaction_id", "txn_id", "id"
    ),
    "CSV": lambda p: scalars.array_get(p, 0),
}


def source_txn_id(source_system: str) -> F.Column:
    """The ORIGINAL source_txn_id of a RAW row of ``source_system`` (before
    the payload-hash fallback), read from its ``payload``."""
    return _SOURCE_TXN_ID[source_system](F.col("payload"))


def rank_keys(raw: DataFrame, source_system: str) -> DataFrame:
    """Key-only projection of one RAW table: the rank group
    ``(client_id, source_txn_id)`` plus its lineage ``src_file``, over the
    rows ``transform_headers`` reads. No ``to_json``/``sha256``/
    ``attributes``: a path probe per payload, for finding a delta's key
    closure."""
    return raw.filter(F.col("payload").isNotNull()).select(
        "client_id",
        source_txn_id(source_system).alias("source_txn_id"),
        "src_file",
    )


def _json_header(raw: DataFrame) -> DataFrame:
    """json_hdr CTE (reference :11-25)."""
    p = F.col("payload")
    payload_json = F.to_json(p)
    return raw.select(
        F.col("client_id"),
        F.lit("JSON").alias("source_system"),
        source_txn_id("JSON").alias("source_txn_id"),
        scalars.try_to_timestamp(
            vstr_chain(p, "transaction_ts", "transaction_time", "timestamp", "txn_timestamp")
        ).alias("txn_timestamp"),
        F.upper(vstr_chain(p, "currency", "ccy")).alias("currency"),
        scalars.try_to_number(vstr_chain(p, "total_amount", "amount", "total")).alias(
            "total_amount"
        ),
        vstr_chain(p, "customer_id", "customer.id", "customerId").alias("customer_id"),
        vstr_chain(p, "account_id", "account.id", "accountId").alias("account_id"),
        vstr_chain(p, "merchant", "merchant.name", "payee").alias("merchant"),
        F.col("src_file"),
        F.col("src_row_number"),
        F.col("ingest_ts"),
        _attributes_json(payload_json, "raw_payload", "JSON").alias("attributes"),
        scalars.sha256_hex(payload_json).alias("payload_hash"),
    )


def _xml_header(raw: DataFrame) -> DataFrame:
    """xml_hdr CTE (reference :26-40); ``@transaction_id`` attribute first."""
    p = F.col("payload")
    payload_json = F.to_json(p)
    return raw.select(
        F.col("client_id"),
        F.lit("XML").alias("source_system"),
        source_txn_id("XML").alias("source_txn_id"),
        scalars.try_to_timestamp(
            vstr_chain(p, "transaction_ts", "transaction_time", "timestamp", "txn_timestamp")
        ).alias("txn_timestamp"),
        F.upper(vstr_chain(p, "currency", "ccy")).alias("currency"),
        scalars.try_to_number(vstr_chain(p, "total_amount", "amount", "total")).alias(
            "total_amount"
        ),
        vstr_chain(p, "customer_id", "customer.id").alias("customer_id"),
        vstr_chain(p, "account_id", "account.id").alias("account_id"),
        vstr_chain(p, "merchant", "merchant.name", "payee").alias("merchant"),
        F.col("src_file"),
        F.col("src_row_number"),
        F.col("ingest_ts"),
        _attributes_json(payload_json, "raw_payload", "XML").alias("attributes"),
        scalars.sha256_hex(payload_json).alias("payload_hash"),
    )


def _csv_header(raw: DataFrame) -> DataFrame:
    """csv_hdr CTE (reference :41-55); positional mapping 0..6 = header."""
    p = F.col("payload")
    payload_json = F.to_json(p)
    return raw.select(
        F.col("client_id"),
        F.lit("CSV").alias("source_system"),
        source_txn_id("CSV").alias("source_txn_id"),
        scalars.try_to_timestamp(scalars.array_get(p, 1)).alias("txn_timestamp"),
        F.upper(scalars.array_get(p, 2)).alias("currency"),
        scalars.try_to_number(scalars.array_get(p, 3)).alias("total_amount"),
        scalars.array_get(p, 4).alias("customer_id"),
        scalars.array_get(p, 5).alias("account_id"),
        scalars.array_get(p, 6).alias("merchant"),
        F.col("src_file"),
        F.col("src_row_number"),
        F.col("ingest_ts"),
        _attributes_json(payload_json, "csv_payload", "CSV").alias("attributes"),
        scalars.sha256_hex(payload_json).alias("payload_hash"),
    )


def transform_headers(
    raw_json: DataFrame | None,
    raw_xml: DataFrame | None,
    raw_csv: DataFrame | None,
) -> DataFrame:
    """STG_CAN_TXN_HEADER (reference :9-104).

    Output grain: one row per raw record, with ``rn``/``dup_cnt`` survivorship
    columns and the anomaly-code array; the ``rn = 1`` filter happens at the
    merge (stage 05) exactly like the reference.
    """
    branches = []
    if raw_json is not None:
        branches.append(_json_header(raw_json.filter(F.col("payload").isNotNull())))
    if raw_xml is not None:
        branches.append(_xml_header(raw_xml.filter(F.col("payload").isNotNull())))
    if raw_csv is not None:
        branches.append(_csv_header(raw_csv.filter(F.col("payload").isNotNull())))
    if not branches:
        raise ValueError("transform_headers: no raw inputs")
    all_hdr = branches[0]
    for b in branches[1:]:
        all_hdr = all_hdr.unionByName(b)

    # enriched CTE (:63-75)
    enriched = all_hdr.withColumn(
        "effective_source_txn_id", F.coalesce(F.col("source_txn_id"), F.col("payload_hash"))
    ).withColumn(
        "canonical_txn_id",
        scalars.canonical_txn_id(
            F.col("client_id"),
            F.col("source_txn_id"),
            F.col("payload_hash"),
            F.col("src_file"),
            F.col("txn_timestamp"),
        ),
    )

    # ranked CTE (:76-82). Partition key is the ORIGINAL source_txn_id (NULLs
    # collapse into one group — SURVEY §7.4-3); payload_hash is the
    # deterministic tiebreaker our build adds (§7.4-4).
    ranked = rank_duplicates(
        enriched,
        keys=["client_id", "source_txn_id"],
        order_by=[F.col("ingest_ts").desc(), F.col("payload_hash")],
    )

    # final projection (:83-104)
    return ranked.select(
        "canonical_txn_id",
        "client_id",
        "source_system",
        F.col("effective_source_txn_id").alias("source_txn_id"),
        "txn_timestamp",
        F.col("currency"),
        F.col("total_amount").cast(MONEY).alias("total_amount"),
        "customer_id",
        "account_id",
        "merchant",
        "src_file",
        "src_row_number",
        "ingest_ts",
        "rn",
        "dup_cnt",
        scalars.array_compact_of(
            scalars.iff(F.col("dup_cnt") > 1, F.lit("DUPLICATE_TXN"), F.lit(None)),
            scalars.iff(
                F.col("txn_timestamp").isNull() | F.col("total_amount").isNull(),
                F.lit("MISSING_REQUIRED"),
                F.lit(None),
            ),
            scalars.iff(F.col("total_amount") < 0, F.lit("NEGATIVE_AMOUNT"), F.lit(None)),
        ).alias("anomaly_codes"),
        "attributes",
    )
