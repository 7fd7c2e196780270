"""Change-event envelope parsing — raw + parsed duality.

Mirrors the reference's envelope handling (re-expressed declaratively):

- parsing is lenient: unknown JSON fields are ignored
  (dtos/AzureBlobCreateEventMessage.kt:5, test
  Unit_FnDecompressor.kt:573-574 injects extraField);
- malformed JSON does not abort the batch: the row is tagged and routed
  to quarantine, the rest proceeds (per-event error isolation,
  FnDecompressor.kt:163-169);
- unknown op types are SKIPPED, not failed (eventType filter,
  FnDecompressor.kt:67-71), and counted in lineage;
- required envelope fields (doc_id, commit_ts, lsn — analogues of
  id/contentType/contentLength/url, FnDecompressor.kt:76-84) are one
  null-check conjunction; violations -> quarantine;
- raw provenance (FnDecompressor.kt:62-65 ``rawEvents.zip(events)``):
  malformed rows carry their original line (the corrupt-record
  column); well-formed rows carry a canonical ``to_json`` re-render,
  computed lazily so passes that never touch ``raw`` never pay for it.

Execution note (measured, see BENCH notes): the binlog is read with the
**native JSON datasource** (``spark.read.schema(...).json`` /
``readStream``), which parses each line exactly once at the scan and
lets Catalyst prune unused envelope fields INTO the parser. The
``from_json``-over-text path (``parse_envelopes``) is kept for ad-hoc
raw-string frames and tests; inlined from_json re-evaluates per
referencing operator after projection collapse, which measured 5-20x
slower in multi-pass pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window

from .schema import change_event_schema

RAW_COL = "raw"
PARSE_FAIL = "envelope:raw:malformed JSON"
_REQUIRED_ENVELOPE = ("op", "doc_id", "commit_ts", "lsn", "batch_epoch")
_CORRUPT = "_corrupt"


def _parse_schema(payload_schema: T.StructType | None) -> T.StructType:
    schema = change_event_schema(payload_schema)
    return T.StructType(list(schema.fields) + [T.StructField(_CORRUPT, T.StringType(), True)])


def _finalize(df: DataFrame, blank_col: F.Column | None = None) -> DataFrame:
    """Add raw / envelope_fail / is_blank to a parsed envelope frame
    (which carries the event fields + _corrupt)."""
    fields = [f for f in df.schema.fieldNames() if f not in (_CORRUPT, RAW_COL)]
    missing = [
        F.when(F.col(c).isNull(), F.lit(f"envelope:{c}:required envelope field missing"))
        for c in _REQUIRED_ENVELOPE
    ]
    # negative epochs are rejected, not applied: the epoch-marker space
    # is non-negative (negatives are the quarantine's fallback partition
    # namespace), so a producer-bug event with batch_epoch < 0 could
    # never be made idempotent — the already-committed filter would
    # re-apply it on every redelivery, regressing newer state
    missing.append(
        F.when(
            F.col("batch_epoch") < 0,
            F.lit("envelope:batch_epoch:negative epoch (marker space is non-negative)"),
        )
    )
    raw = (
        F.col(RAW_COL)
        if RAW_COL in df.columns
        else F.coalesce(F.col(_CORRUPT), F.to_json(F.struct(*fields)))
    )
    return df.select(
        raw.alias(RAW_COL),
        *fields,
        F.when(F.col(_CORRUPT).isNotNull(), F.lit(PARSE_FAIL))
        .otherwise(F.get(F.array_compact(F.array(*missing)), 0))
        .alias("envelope_fail"),
        (blank_col if blank_col is not None else F.lit(False)).alias("is_blank"),
    )


def read_binlog(
    spark: SparkSession, path: str, payload_schema: T.StructType | None = None
) -> DataFrame:
    """Batch-read a newline-delimited-JSON change log directory.

    Native JSON scan: single parse per line, column pruning reaches the
    parser, malformed lines land in the corrupt-record column."""
    df = (
        spark.read.schema(_parse_schema(payload_schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .json(path)
    )
    return _finalize(df)


def _finalize_structured(
    df: DataFrame, payload_schema: T.StructType | None
) -> DataFrame:
    """Align a structured (parquet) change-log frame to the envelope
    schema and run the shared finalize (raw + envelope_fail)."""
    schema = change_event_schema(payload_schema)
    cols = []
    have = set(df.columns)
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    raw = (
        F.col(RAW_COL)
        if RAW_COL in have
        else F.to_json(F.struct(*[f.name for f in schema.fields if f.name in have]))
    )
    flat = df.select(raw.alias(RAW_COL), *cols, F.lit(None).cast("string").alias(_CORRUPT))
    return _finalize(flat)


OUTBOX_SCHEMA_FILE = "_outbox_schema.json"


def _all_nullable(dt: T.DataType) -> T.DataType:
    """Recursively mark every field nullable. The binlog contract is
    nullable-everything (anomalies surface as NULL envelope/payload
    columns), but a producer's frame often carries non-nullable fields
    (spark.range derivations, NOT NULL table schemas). A sidecar kept
    verbatim would make ``_finalize_structured``'s cast target
    non-nullable — an AnalysisException on a perfectly good log."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _all_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_all_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _all_nullable(dt.keyType), _all_nullable(dt.valueType), True
        )
    return dt


def _sidecar_payload_schema(path: str) -> T.StructType | None:
    """Payload schema published NEXT TO a structured log (the
    schema-registry-beside-the-topic pattern; operators/outbox.py
    writes it at each emission). Without it, a consumer with no
    explicit payload_schema would cast the payload struct to the
    DEFAULT schema and silently drop columns the producer evolved.
    Best-effort local-FS sniff: an explicit payload_schema always
    wins, and absence just means the default schema (the
    pre-evolution contract)."""
    import json

    p = os.path.join(path, OUTBOX_SCHEMA_FILE)
    try:
        if os.path.exists(p):
            with open(p) as f:
                return _all_nullable(T.StructType.fromJson(json.load(f)))
    except (OSError, ValueError, KeyError):
        return None
    return None


def read_binlog_parquet(
    spark: SparkSession, path: str, payload_schema: T.StructType | None = None
) -> DataFrame:
    """Batch-read a STRUCTURED (parquet) change-log directory — the
    schema-ful staging shape written by ``gen.write_binlog_parquet``.

    No JSON parse at all: envelope columns decode columnar, epoch
    partition pruning reaches the scan, and the same classify /
    validate / dedup pipeline runs downstream unchanged. Rows the
    producer could not parse arrive with NULL envelope columns + the
    raw line and classify as rejects, exactly like the ndjson path.

    The scan uses an EXPLICIT read schema (envelope + payload + raw),
    exactly like the streaming reader: the parquet reader null-fills
    missing columns INCLUDING nested payload fields, so a log whose
    files span a payload evolution (older files lack a column the
    sidecar already carries) reads uniformly — an inferred-schema
    read would pick one file's footer and the struct cast to the
    union schema cannot widen."""
    if payload_schema is None:
        payload_schema = _sidecar_payload_schema(path)
    schema = T.StructType(
        list(change_event_schema(payload_schema).fields)
        + [T.StructField(RAW_COL, T.StringType(), True)]
    )
    return _finalize_structured(
        spark.read.schema(schema).parquet(path), payload_schema
    )


def read_binlog_parquet_stream(
    spark: SparkSession,
    path: str,
    payload_schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming tail of a structured parquet change log (file
    source; checkpointed offsets, maxFilesPerTrigger batching — the
    same contract as the ndjson stream but with columnar decode)."""
    if payload_schema is None:
        payload_schema = _sidecar_payload_schema(path)
    schema = T.StructType(
        list(change_event_schema(payload_schema).fields)
        + [T.StructField(RAW_COL, T.StringType(), True)]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _finalize_structured(reader.parquet(path), payload_schema)


def read_binlog_stream(
    spark: SparkSession,
    path: str,
    payload_schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming tail of the change log (JSON file source; Kafka in
    prod — swap ``format("kafka")`` + from_json on ``value``)."""
    reader = (
        spark.readStream.schema(_parse_schema(payload_schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _finalize(reader.json(path))


def parse_envelopes(raw_df: DataFrame, payload_schema: T.StructType | None = None) -> DataFrame:
    """raw:string frame -> parsed envelope frame (from_json path).

    Kept for ad-hoc raw frames (e.g. Kafka values, unit tests). from_json
    is lenient like GSON: extra fields ignored, missing fields null;
    blank lines are tagged is_blank (skipped, FnDecompressor.kt:45-49)."""
    schema = _parse_schema(payload_schema)
    df = raw_df.withColumn(
        "_ev",
        F.from_json(F.col(RAW_COL), schema, {"columnNameOfCorruptRecord": _CORRUPT}),
    )
    flat = df.select(
        RAW_COL,
        *[F.col(f"_ev.{f.name}").alias(f.name) for f in schema.fields if f.name != _CORRUPT],
        # from_json returns null struct for some malformed inputs;
        # fold that into the corrupt column
        F.when(F.col("_ev").isNull(), F.col(RAW_COL))
        .otherwise(F.col(f"_ev.{_CORRUPT}"))
        .alias(_CORRUPT),
    )
    return _finalize(flat, blank_col=F.trim(F.col(RAW_COL)) == "")


def compact_binlog(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    rules=None,
    payload_schema: T.StructType | None = None,
) -> dict:
    """Kafka-style log compaction for the change log: keep, per key,
    only the event that would WIN last-writer-wins replay; drop the
    superseded ones. Output is a structured parquet binlog (partition
    pruning, no JSON parse on re-read).

    Compaction must preserve replay semantics under the engine's
    validation gate, so only events that are apply-class AND pass the
    rule-set compact against each other — an invalid later event must
    NOT compact away a valid earlier one (the engine would quarantine
    the invalid winner and keep the earlier value). Rejects, skips and
    validation failures are kept verbatim.

    Non-monotone logs (a producer retry re-offsets an OLD (commit_ts,
    lsn) under a FRESH epoch): blind epoch-ordered replay of such a
    key is batching-dependent — the final value depends on which
    events share a micro-batch — so collapsing it to any single event
    could diverge from some replay. A key is therefore compacted ONLY
    when its (commit_ts, lsn)-max winner also carries the key's max
    batch_epoch; then EVERY epoch-ordered batching ends with that
    winner (it is in the last batch touching the key and wins the
    in-batch LWW dedup). Ambiguous keys keep all their events
    verbatim. Result: replaying the compacted log converges to the
    SAME table state and the SAME quarantine rows as the full log for
    every epoch-ordered batching (tested, including a non-monotone
    key), only lineage's events-seen counts shrink.

    Epoch markers: each kept event keeps its batch_epoch; epochs whose
    events all compacted away vanish from the log, which the
    watermark's out-of-order tail absorbs (bounded by #epochs of the
    compacted archive).
    """
    from .config import RuleSet
    from .validate import FAIL_COL, validate_frame

    rules = rules or RuleSet()
    parsed = open_binlog(spark, in_dir, payload_schema)
    ev = classify(parsed, op_whitelist=rules.op_whitelist)
    flat = ev.select(
        "raw", "event_class", "op", "doc_id", F.col("payload.*"),
        "commit_ts", "lsn", "batch_epoch", "envelope_fail", "is_blank",
    )
    payload_cols = [
        c
        for c in flat.columns
        if c
        not in (
            "raw", "event_class", "op", "doc_id",
            "commit_ts", "lsn", "batch_epoch", "envelope_fail", "is_blank",
            FAIL_COL,
        )
    ]
    validated = validate_frame(flat, rules, "jvm")
    compactable = (F.col("event_class") == "apply") & (
        (F.col("op") == "delete") | (F.coalesce(F.size(FAIL_COL), F.lit(0)) == 0)
    )
    tagged = validated.withColumn("_compactable", compactable)
    # One shuffle: per-key window computes the LWW winner AND the max
    # epoch; a key compacts only when the winner carries the max epoch
    # (see docstring). (commit_ts, lsn) is a total order (lsn unique).
    wkey = Window.partitionBy("doc_id")
    annot = (
        tagged.filter("_compactable")
        .withColumn(
            "_win", F.max(F.struct("commit_ts", "lsn", "batch_epoch")).over(wkey)
        )
        .withColumn("_max_ep", F.max("batch_epoch").over(wkey))
    )
    losers_removed = annot.filter(
        (F.col("_win.batch_epoch") < F.col("_max_ep"))  # ambiguous: keep all
        | (
            (F.col("commit_ts") == F.col("_win.commit_ts"))
            & (F.col("lsn") == F.col("_win.lsn"))
        )
    ).select("doc_id", "raw", "op", *payload_cols, "commit_ts", "lsn", "batch_epoch")
    kept_verbatim = tagged.filter(~F.col("_compactable")).select(
        "doc_id", "raw", "op", *payload_cols, "commit_ts", "lsn", "batch_epoch"
    )
    out = losers_removed.select(
        "op",
        "doc_id",
        F.struct(*payload_cols).alias("payload"),
        "commit_ts",
        "lsn",
        "raw",
        "batch_epoch",
    ).unionByName(
        kept_verbatim.select(
            "op",
            "doc_id",
            F.struct(*payload_cols).alias("payload"),
            "commit_ts",
            "lsn",
            "raw",
            "batch_epoch",
        )
    )
    (
        out.repartition("batch_epoch")
        .write.partitionBy("batch_epoch")
        .parquet(out_dir)
    )
    n_in = parsed.count()
    n_out = spark.read.parquet(out_dir).count()
    return {"events_in": n_in, "events_out": n_out, "dropped": n_in - n_out}


def binlog_looks_parquet(path: str) -> bool:
    """True if the binlog dir holds a structured parquet log (bare
    part files or batch_epoch= partition dirs). The ONE sniffing rule
    shared by batch apply, streaming tail and log compaction — a new
    layout marker must be recognized here and nowhere else."""
    import os

    try:
        entries = os.listdir(path)
    except OSError:
        return False
    return any(
        e.endswith(".parquet") or e.startswith("batch_epoch=") for e in entries
    )


def open_binlog(
    spark: SparkSession,
    path: str,
    payload_schema: T.StructType | None = None,
    format: str | None = None,
    stream: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Read a change-log directory with the reader its encoding needs:
    ``format`` "parquet" (structured log) or "json" (ndjson), sniffed
    by :func:`binlog_looks_parquet` when omitted. ``stream`` opens the
    Structured Streaming tail instead of a batch read."""
    if format is None:
        format = "parquet" if binlog_looks_parquet(path) else "json"
    parquet = format == "parquet"
    if stream:
        reader = read_binlog_parquet_stream if parquet else read_binlog_stream
        return reader(
            spark, path, payload_schema,
            max_files_per_trigger=max_files_per_trigger,
        )
    reader = read_binlog_parquet if parquet else read_binlog
    return reader(spark, path, payload_schema)


def parse_kafka_values(
    df: DataFrame, payload_schema: T.StructType | None = None
) -> DataFrame:
    """Adapter from a Kafka-shaped stream to the envelope frame.

    ``spark.readStream.format("kafka")`` delivers records as binary
    ``key``/``value`` columns; a change event is one JSON envelope per
    record value (reference: one Event Hub message per blob event,
    cardinality ONE — FnDecompressorEntry.kt:41-51). This is the
    production swap point documented on :func:`read_binlog_stream`:
    cast ``value`` to string as the raw line and run the same
    ``from_json`` parse — anomalies (malformed JSON, missing fields,
    unknown ops) classify identically to the file source (proven in
    tests/test_stream.py). Works on streaming and batch frames alike.
    """
    raw = df.select(F.col("value").cast("string").alias(RAW_COL))
    return parse_envelopes(raw, payload_schema)


def read_binlog_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    subscribe: str,
    payload_schema: T.StructType | None = None,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Tail the change log from Kafka: the ``format("kafka")`` wiring
    around :func:`parse_kafka_values`.

    One JSON envelope per record value (reference transport: one Event
    Hub message per blob event, cardinality ONE —
    FnDecompressorEntry.kt:41-51). Offsets checkpoint through the
    streaming query's checkpointLocation exactly like the file source;
    the engine's epoch markers make redelivery converge to
    exactly-once either way.

    Option mapping (all overridable via ``options``):

    - ``startingOffsets`` — ``earliest`` (default: a new consumer
      replays the retained log; epoch markers absorb what the table
      already applied), ``latest``, or a JSON offsets literal for
      precise resume.
    - ``failOnDataLoss`` — default ``false``: a compacted/expired
      range is the binlog-retention contract (events.expire_binlog on
      the file source); the engine treats missing epochs as already
      applied rather than crashing the stream.
    - ``maxOffsetsPerTrigger`` — trigger sizing, the Kafka analogue of
      ``maxFilesPerTrigger`` (see BENCH.md: size triggers well above
      the per-trigger fixed cost).
    - ``includeHeaders`` — on, so producer headers stay available to a
      caller-side projection before the parse.
    - ``kafka.*`` passthrough (security.protocol, sasl.*, group.id
      prefix) via ``options``.

    Requires the ``spark-sql-kafka-0-10`` jars on the classpath (ship
    with ``spark-submit --packages org.apache.spark:spark-sql-kafka-
    0-10_2.13:<spark-version>``); tests/test_stream.py gates on their
    presence and falls back to the value-column shape test, which
    exercises the identical parse/classify path.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", subscribe)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(bool(fail_on_data_loss)).lower())
        .option("includeHeaders", "true")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option(
            "maxOffsetsPerTrigger", str(int(max_offsets_per_trigger))
        )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return parse_kafka_values(reader.load(), payload_schema)


def classify(df: DataFrame, op_whitelist: tuple[str, ...] = ("insert", "update", "delete")) -> DataFrame:
    """Tag each event: 'apply' | 'skip' (blank line / unknown op) |
    'reject' (malformed / missing envelope fields)."""
    return df.withColumn("event_class", classify_column(op_whitelist))


def classify_column(op_whitelist: tuple[str, ...]) -> Column:
    """The ``event_class`` expression of :func:`classify`, for callers
    that build it once and reuse it across batches."""
    return (
        F.when(F.col("is_blank"), F.lit("skip"))
        .when(F.col("envelope_fail").isNotNull(), F.lit("reject"))
        .when(~F.col("op").isin(*op_whitelist), F.lit("skip"))
        .otherwise(F.lit("apply"))
    )


# ----------------------------------------------------------- log retention


def binlog_epoch_files(path: str) -> dict[int, list[str]]:
    """epoch -> file/dir names for every log entry whose NAME encodes
    its epoch: ``epoch-<E>-*`` files (gen.write_binlog) or
    ``batch_epoch=<E>`` partition dirs (structured parquet logs, the
    outbox). Entries that don't encode an epoch are ignored — retention
    never touches what it cannot attribute. Same recognizer as the
    router's epoch listing (router._epochs_from_listing)."""
    import re

    out: dict[int, list[str]] = {}
    try:
        names = os.listdir(path)
    except OSError:
        return out
    for n in names:
        m = re.match(r"epoch-(\d+)-", n) or re.match(r"batch_epoch=(\d+)$", n)
        if m:
            out.setdefault(int(m.group(1)), []).append(n)
    return out


def expire_binlog(
    path: str,
    watermark: int,
    keep_epochs: int = 0,
    dry_run: bool = False,
) -> dict:
    """Retire fully-applied change-log segments: delete epoch files /
    partition dirs for epochs ``<= watermark - keep_epochs``.

    The lifecycle completion of the tail: the engine's exactly-once
    contract (epoch markers) makes applied epochs dead weight in the
    log — but only BELOW the consumer's watermark (pass the MINIMUM
    watermark across consumers for fan-out logs, e.g. the router's
    routes). ``keep_epochs`` holds a replay window for late
    consumers; a from-zero replay of expired epochs is gone by
    design — bootstrap new consumers from ``export_snapshot``
    instead (the same contract as ``LakeTable.vacuum`` vs
    ``changes``). Epoch-less entries (sidecars, stray files,
    fallback partitions, the corrupt-line channel) are never
    touched."""
    import shutil

    through = int(watermark) - int(keep_epochs)
    by_epoch = binlog_epoch_files(path)
    doomed = sorted(e for e in by_epoch if e <= through)
    removed_files = 0
    for e in doomed:
        for name in by_epoch[e]:
            p = os.path.join(path, name)
            if not dry_run:
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    try:
                        os.remove(p)
                    except OSError:
                        continue
            removed_files += 1
    return {
        "through_epoch": through,
        "expired_epochs": doomed,
        "removed_entries": removed_files,
        "kept_epochs": sorted(e for e in by_epoch if e > through),
        "dry_run": bool(dry_run),
    }
