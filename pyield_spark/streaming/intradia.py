"""Streaming twin of the B3 intradia snapshot flow (§2.10 ∘ S6).

The reference polls the DerivativeQuotation endpoint on a 10-second TTL
(pyield/b3/derivativos_intradia.py:80-94) and re-enriches each snapshot
(pyield/futuro/intradia.py:143-172) — a poll loop over point-in-time
payloads. The Spark-native restatement: each fetched payload lands as a
file in a snapshot directory, a Structured Streaming file source picks
it up, and ``foreachBatch`` applies the SAME batch enrichment
(``sources.intradia_json.processar_intradia``) to each micro-batch,
appending to a parquet sink partitioned by snapshot file.

``foreachBatch`` (not a streaming projection) because the enrichment
needs batch-only ops: the business-day broadcast join, and the
per-snapshot forward-curve window — exactly the batch-operator-reuse
pattern the reference's poll loop embodies. Enrichment is per-snapshot
(no cross-snapshot state), so the result is independent of micro-batch
boundaries: replay-equals-batch holds by construction and is pinned by
``tests/test_intradia.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyield_spark.functions.frames import local_frame
from pyield_spark.sources.intradia_json import (
    canonical_quote_columns,
    processar_intradia,
)

# Explicit payload schema for the streaming source (file-stream JSON
# cannot infer): every column-map path is declared, so absent optional
# fields surface as nulls instead of schema drift between snapshots.
PAYLOAD_DDL = """
    Scty ARRAY<STRUCT<
      symb: STRING,
      desc: STRING,
      asset: STRUCT<
        code: STRING,
        AsstSummry: STRUCT<
          mtrtyCode: STRING,
          opnCtrcts: BIGINT,
          grssAmt: DOUBLE,
          tradQty: BIGINT,
          traddCtrctsQty: BIGINT
        >,
        SdTpCd: STRUCT<desc: STRING>
      >,
      mkt: STRUCT<cd: STRING>,
      SctyQtn: STRUCT<
        curPrc: DOUBLE, opngPric: DOUBLE, minPric: DOUBLE,
        maxPric: DOUBLE, avrgPric: DOUBLE, prvsDayAdjstmntPric: DOUBLE,
        bottomLmtPric: DOUBLE, topLmtPric: DOUBLE, exrcPric: DOUBLE
      >,
      buyOffer: STRUCT<price: DOUBLE>,
      sellOffer: STRUCT<price: DOUBLE>
    >>
"""


def _canonical_select(scty: DataFrame) -> DataFrame:
    """Dotted-path column map over the DECLARED schema (all paths
    present by construction) — the SAME shared column builder as the
    batch reader, so the transforms cannot drift (review fix)."""
    return scty.select(*canonical_quote_columns(), "snapshot_file")


def read_intradia_stream(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Snapshot directory → canonical intradia quote stream (one row
    per quote, tagged with its snapshot file)."""
    raw = (
        spark.readStream.schema(PAYLOAD_DDL)
        .option("maxFilesPerTrigger", 1)  # one snapshot per micro-batch,
        # mirroring the reference's one-payload-per-poll cadence
        # multiLine: one (possibly pretty-printed) JSON document per
        # snapshot file — the SAME option the batch twin requires
        # (sources/intradia_json.py); without it a formatted payload
        # parses to null Scty and every micro-batch silently empties
        .option("multiLine", "true")
        .json(snapshot_dir)
    )
    # full path (not basename) — same collision-avoidance rationale as
    # the batch reader's snapshot tag
    scty = raw.select(
        F.explode("Scty").alias("s"),
        F.col("_metadata.file_path").alias("snapshot_file"),
    )
    return _canonical_select(scty)


def intradia_stream_enrich(
    spark: SparkSession,
    snapshot_dir: str,
    sink_dir: str,
    contrato: str,
    data_negociacao,
) -> DataFrame:
    """Drive the (bounded) snapshot stream to completion, enriching each
    micro-batch with the batch flow and appending to a parquet sink;
    returns the sink contents. Enrichment is per-snapshot, so the
    result is micro-batch-boundary independent."""
    import os

    quotes = read_intradia_stream(spark, snapshot_dir)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # snapshot_file flows THROUGH the enrichment (the forward curve
        # partitions on it), so a micro-batch spanning several snapshot
        # files is still correct — maxFilesPerTrigger=1 is cadence, not
        # a correctness requirement
        processar_intradia(batch_df, contrato, data_negociacao).write.mode(
            "append"
        ).parquet(sink_dir)

    # checkpoint INSIDE the sink (underscore-prefixed dirs are invisible
    # to the parquet reader): a second call with the same
    # snapshot_dir/sink_dir — the natural poll-loop cadence — resumes
    # from the checkpoint and enriches only NEW snapshot files, instead
    # of replaying everything and appending duplicate rows (review fix).
    # Scoped per (contrato, data_negociacao): source-file progress is
    # filter-independent, so an unscoped checkpoint would silently skip
    # every already-seen snapshot when the same sink_dir is reused with
    # a DIFFERENT contract or date (ADVICE r6) — each filter combination
    # gets its own progress log instead.
    scope = "".join(
        ch if ch.isalnum() else "_" for ch in f"{contrato}_{data_negociacao}"
    )
    q = (
        quotes.writeStream.foreachBatch(handle)
        .option(
            "checkpointLocation",
            os.path.join(sink_dir, f"_checkpoint_{scope}"),
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # Gate the fallback on the sink containing no parquet FILES, not on
    # the directory existing: callers handing a pre-created empty dir
    # (tempfile.mkdtemp is the common case) must get the canonical empty
    # frame, not an 'unable to infer schema' read error (ADVICE r4).
    # os.listdir, not glob: glob metacharacters in a sink path ('[...]'
    # date dirs) would silently report 'no parquet' (review fix).
    has_parquet = os.path.isdir(sink_dir) and any(
        f.endswith(".parquet") for f in os.listdir(sink_dir)
    )
    if not has_parquet:
        # nothing enriched (empty dir / quotation-unavailable payloads):
        # an empty frame with the canonical schema, not a read error
        return processar_intradia(
            _canonical_select(
                local_frame(spark, [], PAYLOAD_DDL).select(
                    F.explode("Scty").alias("s"),
                    F.lit(None).cast("string").alias("snapshot_file"),
                )
            ),
            contrato,
            data_negociacao,
        )
    return spark.read.parquet(sink_dir)
