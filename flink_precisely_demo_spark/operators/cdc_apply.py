"""CDC snapshot materialization — apply an envelope change stream to
produce current table state.

The reference never reads ``sv_manip_type`` (StreamingJob.java:166 is
declared but unread — SURVEY.md quirk 4, deletes treated as upserts).
This operator is the deliberate extension that closes that gap: given
Precisely envelope rows (I/U/D + after_image + op timestamp), emit
the LATEST surviving row per primary key:

    latest(pk) by (op_ts, trans_id, row_seq);  keep iff manip != 'D'

which is the standard lakehouse "CDC compaction"/SCD1 shape (MERGE
INTO emulated with window-dedup + filter — no Delta required). One
shuffle on the primary key; the pick is the enrichment dim build's
own ``latest_per_key``, and it incrementalizes per partition of the
change log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SV_MANIP, SV_ORDER
from .enrichment_join import latest_per_key


def flatten_envelope(envelopes: DataFrame, pk: str) -> DataFrame:
    """Envelope rows -> (__manip, __ts, __seq0, __seq1, __pk,
    after_image): the merge-ready shape shared by the batch snapshot
    and the streaming upsert store (streaming/cdc_upsert.py), ordered
    by (__ts, __seq0, __seq1) = ``schemas.SV_ORDER``."""
    ts, *seq = SV_ORDER
    return envelopes.select(
        F.col(SV_MANIP).alias("__manip"),
        F.col(ts).alias("__ts"),
        *[F.col(c).alias(f"__seq{i}") for i, c in enumerate(seq)],
        F.col(f"after_image.{pk}").alias("__pk"),
        "after_image")


def apply_cdc_snapshot(envelopes: DataFrame, pk: str) -> DataFrame:
    """Envelope rows -> current state of the table.

    Output: after_image columns of the latest non-delete version per
    key (a key whose latest op is D disappears entirely). Tombstones
    take part in the latest-per-key pick, so out-of-order history
    arriving later cannot resurrect a deleted key.
    """
    payload_fields = envelopes.schema["after_image"].dataType.fieldNames()
    flat = flatten_envelope(envelopes, pk)
    latest = latest_per_key(flat, "__pk", "__ts", ["__seq0", "__seq1"]) \
        .filter(F.col("__manip") != "D")
    return latest.select(*[F.col(f"after_image.{c}") for c in payload_fields])
