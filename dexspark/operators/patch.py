"""Partial-update (patch) CDC events — Debezium-style partial images.

The reference's envelopes are lenient about absent fields (extra or
missing JSON keys never fail the parse — `AzureBlobCreateEventMessage.
kt:5`, SURVEY §1.1), but its payloads are whole files. A real binlog
tail also carries UPDATE events with *partial* row images (MySQL
binlog_row_image=MINIMAL, Debezium partial updates, Mongo $set): the
event names the columns it sets and says nothing about the rest. A
missing JSON key decodes to null, which is indistinguishable from an
explicit ``SET col = NULL`` — so patch events must carry a ``fields``
array naming what they set, and the engine must resolve them against
the current row before the standard LWW merge.

Semantics implemented by :func:`resolve_patch_batch` (all pure JVM
higher-order functions — no Python in the path):

* Events for one key compose IN ``(commit_ts, lsn)`` ORDER — two
  patches to different columns both apply; two to the same column,
  the later wins. (Plain LWW dedup would drop the earlier patch's
  columns entirely — patches are folds, not last-writer-wins.)
* An explicit null set (column listed in ``fields`` with a null
  value) nulls the column; an unlisted column keeps the current
  row's value.
* Interleaved deletes: a delete resets the base row to absent —
  patches after it build on nothing (an insert-by-patch), patches
  before it die with the row. A key whose LAST event is a delete is
  deleted.
* Patches to keys not in the table create rows (unset columns null).

Per-batch cost: one sorted collect_list per key (one shuffle — the
same shuffle the LWW dedup stage pays), one bucket-pruned read of the
affected buckets joined on key (the same read COW merge pays), then
the standard merge. Resolution happens BEFORE validation in a
pipeline: rules judge the post-image, not the fragment
(``CdcEngine`` with ``EngineConfig(patch_events=True)`` wires this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F, types as T

FIELDS_COL = "fields"
EPOCH_COL = "batch_epoch"


def compose_events(
    events: DataFrame, key: str, data_cols: list[str]
) -> DataFrame:
    """Per-key patch-composition fold (no table base) — the algebra of
    partial images, shared by :func:`resolve_patch_batch` and the
    ``patch_compose`` driver query. Pure JVM HOFs, one shuffle.

    Returns one row per key: ``_v_<c>`` (the LAST set value of column
    c among events after the key's last delete; null if never set),
    ``_s_<c>`` (whether c was set), ``_had_delete``, ``_final_delete``
    (the key's last event is a delete), ``_n_eff`` (events
    contributing to the post-image), ``_last_commit_ts`` /
    ``_last_lsn`` (the window's final event, for provenance), plus the
    per-key max ``batch_epoch`` when the input carries one."""
    all_set = F.array(*[F.lit(c) for c in data_cols])
    has_epoch = EPOCH_COL in events.columns
    ev = events.withColumn(
        FIELDS_COL,
        F.when(F.col("op") == "delete", F.array().cast("array<string>"))
        .otherwise(F.coalesce(F.col(FIELDS_COL), all_set)),
    )
    # one struct per event, (commit_ts, lsn) leading so sort_array
    # orders the fold; per-key event lists are micro-batch sized
    p = F.struct(
        F.col("commit_ts"), F.col("lsn"), F.col("op"), F.col(FIELDS_COL),
        *[F.col(c) for c in data_cols],
    )
    aggs = [F.sort_array(F.collect_list(p)).alias("_pl")]
    if has_epoch:
        aggs.append(F.max(EPOCH_COL).alias(EPOCH_COL))
    composed = (
        ev.groupBy(key)
        .agg(*aggs)
        .withColumn(
            "_ix",
            F.expr("transform(_pl, (p, i) -> struct(i as i, p as p))"),
        )
        .withColumn(
            "_last_del",
            F.coalesce(
                F.expr(
                    "try_element_at(filter(_ix, x -> x.p.op = 'delete'), -1).i"
                ),
                F.lit(-1),
            ),
        )
        # the effective patch list: everything after the last delete
        .withColumn("_eff", F.expr("filter(_ix, x -> x.i > _last_del)"))
        .withColumn(
            "_final_delete", (F.size("_eff") == 0) & (F.col("_last_del") >= 0)
        )
        .withColumn("_had_delete", F.col("_last_del") >= 0)
        .withColumn("_n_eff", F.size("_eff"))
        .withColumn(
            "_last_commit_ts", F.expr("element_at(_pl, -1).commit_ts")
        )
        .withColumn("_last_lsn", F.expr("element_at(_pl, -1).lsn"))
    )
    cols = [F.col(key)]
    for c in data_cols:
        setters = f"filter(_eff, x -> array_contains(x.p.{FIELDS_COL}, '{c}'))"
        cols.append(F.expr(f"try_element_at({setters}, -1).p.{c}").alias(f"_v_{c}"))
        cols.append(F.expr(f"size({setters}) > 0").alias(f"_s_{c}"))
    cols += [
        F.col("_had_delete"),
        F.col("_final_delete"),
        F.col("_n_eff"),
        F.col("_last_commit_ts"),
        F.col("_last_lsn"),
    ]
    if has_epoch:
        cols.append(F.col(EPOCH_COL))
    return composed.select(*cols)


def resolve_patch_batch(table, events: DataFrame, schema=None, head=None) -> dict:
    """Compose one batch of patch events per key and resolve them
    against the table's current rows.

    ``events`` columns: the table key, ``op`` (``upsert`` | ``delete``),
    ``commit_ts``, ``lsn``, every table data column (null-padded), and
    ``fields: array<string>`` naming the columns each upsert actually
    sets (ignored for deletes; a null ``fields`` on an upsert means a
    FULL image — all columns set, the plain-CDC degenerate case). An
    optional ``batch_epoch`` column rides through as the per-key max
    (for quarantine attribution of a resolved row).

    ``schema``: optional EVOLVED row schema (table schema reconciled
    with the incoming payload struct) — pass it when patch events may
    carry brand-new columns, so resolution keeps them (current rows
    read null for them) and the merge evolves the table additively.
    Default: the table's current schema.

    ``head``: the table manifest to resolve against (default: the
    table's head, read once here).

    Returns ``{"ups", "dels", "touched", "num_buckets", "n_dels"}``:
    full post-image upsert rows (one per surviving key), delete keys,
    the affected-bucket hint for :meth:`LakeTable.merge`, and the
    number of delete keys (observed on the checkpoint that
    materializes the resolution, so counting them runs no job).
    """
    m = table.manifest() if head is None else head
    key = m["key"]
    schema = schema or T.StructType.fromJson(m["schema"])
    data_cols = [f.name for f in schema.fields if f.name != key]
    composed = compose_events(events, key, data_cols)
    has_epoch = EPOCH_COL in composed.columns

    # resolve against current rows, reading only the affected buckets
    nb = m["num_buckets"]
    touched = [
        r["_bucket"]
        for r in table._bucket_col(composed.select(key), key, nb)
        .select("_bucket")
        .distinct()
        .collect()
    ]
    old = table._align(table._snapshot(m, buckets=touched), schema).join(
        composed.select(key), key, "left_semi"
    )
    old = old.select(key, *[F.col(c).alias(f"_old_{c}") for c in data_cols])
    j = composed.join(old, key, "left")

    def resolved(c: str) -> F.Column:
        base = F.when(F.col("_had_delete"), F.lit(None)).otherwise(
            F.col(f"_old_{c}")
        )
        return (
            F.when(F.col(f"_s_{c}"), F.col(f"_v_{c}")).otherwise(base).alias(c)
        )

    obs = Observation()
    j = j.observe(
        obs, F.count(F.when(F.col("_final_delete"), F.lit(1))).alias("n_dels")
    ).localCheckpoint(eager=True)  # consumed twice (ups + dels)
    extra = [F.col(EPOCH_COL)] if has_epoch else []
    ups = j.filter(~F.col("_final_delete")).select(
        key,
        *[resolved(c) for c in data_cols],
        # provenance of the post-image: the key's LAST event in the
        # window. The engine renders a quarantined post-image back
        # into a FULL envelope with these, so reprocess_quarantine
        # can replay it.
        F.col("_last_commit_ts"),
        F.col("_last_lsn"),
        *extra,
    )
    dels = j.filter(F.col("_final_delete")).select(key)
    return {
        "ups": ups,
        "dels": dels,
        "touched": touched,
        "num_buckets": nb,
        "n_dels": int(obs.get["n_dels"]),
    }

