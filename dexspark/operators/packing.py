"""Training-sequence shaping: document chunking and concat-and-chunk
sequence packing.

The table this engine maintains holds pre-tokenized documents of
ragged length; a training job consumes fixed-length sequences. The
two standard shapes between them:

- :func:`chunk_documents` — split each long document into windows of
  ``max_len`` with optional overlap (``stride < max_len``), the
  retrieval/eval shape. Pure JVM higher-order functions
  (``sequence`` + ``slice`` + ``posexplode``): no Python in the path,
  whole-stage codegen, scales as a map-only stage.

- :func:`pack_sequences` — GPT-pretraining concat-and-chunk: within
  each partition, concatenate documents (an EOS token after each) in
  a deterministic order and slice the stream into rows of exactly
  ``seq_len``, padding only the final remainder. Zero shuffle by
  design: packs never cross partition boundaries, so at 10^10 docs
  the job is one Arrow-batched map over whatever partitioning the
  upstream chose (repartition first if you need a pack-count target
  per file). Implemented with ``mapInArrow`` carrying a remainder
  buffer ACROSS record batches inside the partition iterator — per
  partition, not per batch, so batch boundaries don't leak padding
  (the engine's no-per-row-Python stance: numpy concat/reshape over
  the flat Arrow token buffer).

Reference parity: the reference ends at validated rows
(csvValidationFunction_Generic.kt:87-109); sequence shaping is this
engine's training-pipeline extension (SURVEY §2 "beyond the
reference" LLM-data operators), like the dedup/ANN family.

Determinism contract: ``pack_sequences`` output is a pure function
of (partitioning, intra-partition order). Pass
``sort_within_partitions=True`` (default) to pin intra-partition
order by ``id_col``; pin the partitioning upstream (e.g.
``df.repartition(n, key)``) when byte-stable output across runs
matters.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F, types as T


def chunk_documents(
    df: DataFrame,
    max_len: int,
    stride: int | None = None,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Windows ``tokens[s : s+max_len]`` for ``s = 0, stride,
    2*stride, ... < n``; every chunk is non-empty, the tail chunk may
    be short, empty/NULL docs yield no chunks. All other columns pass
    through; adds ``chunk_idx`` and replaces ``tokens`` /``n_tok``
    with the chunk's."""
    if stride is None:
        stride = max_len
    if max_len <= 0 or stride <= 0:
        raise ValueError("max_len and stride must be positive")
    n = F.size(tokens_col)  # -1 for NULL arrays: filtered below
    others = [c for c in df.columns if c not in (tokens_col, "n_tok", "chunk_idx")]
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    return (
        df.filter(n > 0)
        .select(
            *others,
            F.col(tokens_col).alias("_full"),
            F.posexplode(starts).alias("chunk_idx", "_start"),
        )
        .select(
            *others,
            "chunk_idx",
            F.slice(F.col("_full"), F.col("_start") + 1, max_len).alias(
                tokens_col
            ),
        )
        .withColumn("n_tok", F.size(tokens_col))
    )


def pack_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("pack_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
            T.StructField("n_real", T.IntegerType(), False),
            T.StructField("docs", T.ArrayType(T.StringType()), False),
        ]
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    eos_id: int,
    pad_id: int = 0,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    sort_within_partitions: bool = True,
) -> DataFrame:
    """Concat-and-chunk packing: rows of exactly ``seq_len`` tokens.

    Per partition, the token stream is ``doc0 + [eos] + doc1 + [eos]
    + ...``; full ``seq_len`` slices are emitted as they fill and the
    final remainder is padded with ``pad_id`` (``n_real`` = how many
    leading tokens are real). ``docs`` lists the documents that
    contributed at least one token to the pack, in order — a doc
    longer than ``seq_len`` simply spans several packs. Empty/NULL
    docs contribute just their EOS (they still mark a document
    boundary). Token conservation: the concatenation of all packs'
    first-``n_real`` tokens equals the per-partition input stream
    exactly."""
    if seq_len <= 1:
        raise ValueError("seq_len must be > 1")

    if sort_within_partitions:
        df = df.sortWithinPartitions(id_col)
    narrow = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.coalesce(F.col(tokens_col), F.array()).alias("tokens"),
    )

    def pack_partition(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        buf = np.empty(0, dtype=np.int64)  # carried token remainder
        buf_docs: list[str] = []  # docs with tokens in the remainder
        part_key: str | None = None
        seq = 0
        out_tok: list[list[int]] = []
        out_docs: list[list[str]] = []
        out_ids: list[str] = []
        out_real: list[int] = []

        def flush():
            nonlocal out_tok, out_docs, out_ids, out_real
            if not out_ids:
                return None
            b = pa.record_batch(
                {
                    "pack_id": pa.array(out_ids, pa.string()),
                    "tokens": pa.array(out_tok, pa.list_(pa.int32())),
                    "n_real": pa.array(out_real, pa.int32()),
                    "docs": pa.array(out_docs, pa.list_(pa.string())),
                }
            )
            out_tok, out_docs, out_ids, out_real = [], [], [], []
            return b

        for batch in batches:
            if part_key is None:
                # TaskContext is the partition identity; stable within
                # the task, unique across the job
                from pyspark import TaskContext

                ctx = TaskContext.get()
                part_key = str(ctx.partitionId() if ctx else 0)
            tokens = batch.column("tokens")
            ids = batch.column("doc_id").to_pylist()
            # .values ignores any slice offset (whole child array);
            # .offsets are absolute indices into it — index directly,
            # do NOT normalize (a sliced batch would misalign)
            flat = tokens.values.to_numpy(zero_copy_only=False).astype(np.int64)
            offs = np.asarray(tokens.offsets).astype(np.int64)
            for i, doc in enumerate(ids):
                piece = flat[offs[i] : offs[i + 1]]
                buf = np.concatenate([buf, piece, [eos_id]])
                buf_docs.append(doc)
                while len(buf) >= seq_len:
                    out_ids.append(f"{part_key}-{seq}")
                    seq += 1
                    out_tok.append(buf[:seq_len].tolist())
                    out_real.append(seq_len)
                    out_docs.append(buf_docs)
                    buf = buf[seq_len:]
                    # docs for the next pack: only those still
                    # contributing tokens (the current doc iff its
                    # stream continues into the remainder)
                    buf_docs = [doc] if len(buf) > 0 else []
            b = flush()
            if b is not None:
                yield b
        if len(buf) > 0:
            pad = np.full(seq_len - len(buf), pad_id, dtype=np.int64)
            out_ids.append(f"{part_key or 0}-{seq}")
            out_tok.append(np.concatenate([buf, pad]).tolist())
            out_real.append(int(len(buf)))
            out_docs.append(buf_docs)
        b = flush()
        if b is not None:
            yield b

    return narrow.mapInArrow(pack_partition, pack_schema())


def pack_best_fit(
    df: DataFrame,
    seq_len: int,
    pad_id: int = 0,
    eos_id: int | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    sort_within_partitions: bool = True,
) -> DataFrame:
    """Sample-level (bin) packing: every document lands WHOLE in
    exactly one pack — first-fit-decreasing — padding each pack to
    ``seq_len``. The OTHER standard packing policy: concat-and-chunk
    (:func:`pack_sequences`) wastes no tokens but splits documents
    across sequence boundaries; bin packing keeps each sample intact
    (no cross-document attention contamination, the fine-tuning /
    instruction-data shape) at the cost of pad waste, which FFD keeps
    near the bin-packing optimum.

    ``eos_id`` (when given) is appended after each document inside
    the pack and counts against capacity. Documents longer than the
    capacity are pre-chunked with :func:`chunk_documents` so every
    piece fits (each PIECE then packs whole; provenance keeps the doc
    id per piece). Empty/NULL docs occupy only their optional EOS.

    Scale shape: zero shuffle — FFD runs per Arrow record batch
    inside ``mapInArrow`` (memory O(batch), bins never cross batches;
    with ``sort_within_partitions=True`` the partition is globally
    length-sorted, so each batch sees a decreasing run and per-batch
    FFD tracks whole-partition FFD closely). Same determinism
    contract as pack_sequences: output is a pure function of
    (partitioning, intra-partition order).

    Output: :func:`pack_schema` — ``tokens`` padded to ``seq_len``,
    ``n_real`` = real token count, ``docs`` = the documents placed in
    the pack, placement order. ``tokens[:n_real]`` equals the
    concatenation of the listed documents' tokens (each followed by
    EOS when ``eos_id`` is set) — the no-split invariant the tests
    reconstruct byte-for-byte."""
    if seq_len <= 1:
        raise ValueError("seq_len must be > 1")
    per_doc = 1 if eos_id is not None else 0
    capacity = seq_len - per_doc
    if capacity <= 0:
        raise ValueError("seq_len leaves no room for content + EOS")

    long_mask = F.size(F.coalesce(F.col(tokens_col), F.array())) > capacity
    long_docs = df.filter(long_mask)
    short_docs = df.filter(~long_mask)
    pieces = short_docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.coalesce(F.col(tokens_col), F.array()).alias("tokens"),
        F.lit(0).alias("chunk_idx"),
    )
    # always union the (possibly empty) chunked side: the filter
    # prunes it at scan time, and skipping a driver-side isEmpty()
    # probe keeps plan construction action-free
    chunked = chunk_documents(
        long_docs, max_len=capacity, tokens_col=tokens_col
    ).select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(tokens_col).alias("tokens"),
        "chunk_idx",
    )
    pieces = pieces.unionByName(chunked)
    if sort_within_partitions:
        # decreasing length = the "D" in FFD; (doc_id, chunk_idx)
        # break ties, so the order (hence the packing) is
        # deterministic and equal-length chunks of one document pack
        # in chunk order
        pieces = pieces.sortWithinPartitions(
            F.size("tokens").desc(), "doc_id", "chunk_idx"
        )

    def pack_batchwise(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        part_key = None
        seq = 0
        for batch in batches:
            if part_key is None:
                from pyspark import TaskContext

                ctx = TaskContext.get()
                part_key = str(ctx.partitionId() if ctx else 0)
            tokens = batch.column("tokens")
            ids = batch.column("doc_id").to_pylist()
            flat = tokens.values.to_numpy(zero_copy_only=False).astype(np.int64)
            offs = np.asarray(tokens.offsets).astype(np.int64)
            lens = (offs[1:] - offs[:-1]) + per_doc
            # stable sort keeps the upstream (doc_id, chunk_idx)
            # tiebreak binding
            order = np.argsort(-lens, kind="stable")
            bins: list[list] = []  # [remaining, [row_idx, ...]]
            for i in order:
                need = int(lens[i])
                for b in bins:
                    if b[0] >= need:
                        b[0] -= need
                        b[1].append(int(i))
                        break
                else:
                    bins.append([seq_len - need, [int(i)]])
            out_ids, out_tok, out_real, out_docs = [], [], [], []
            for b in bins:
                parts = []
                docs = []
                for i in b[1]:
                    parts.append(flat[offs[i] : offs[i + 1]])
                    if eos_id is not None:
                        parts.append(np.array([eos_id], dtype=np.int64))
                    docs.append(ids[i])
                body = (
                    np.concatenate(parts)
                    if parts
                    else np.empty(0, dtype=np.int64)
                )
                n_real = int(len(body))
                pad = np.full(seq_len - n_real, pad_id, dtype=np.int64)
                out_ids.append(f"{part_key}-{seq}")
                seq += 1
                out_tok.append(np.concatenate([body, pad]).tolist())
                out_real.append(n_real)
                out_docs.append(docs)
            if out_ids:
                yield pa.record_batch(
                    {
                        "pack_id": pa.array(out_ids, pa.string()),
                        "tokens": pa.array(out_tok, pa.list_(pa.int32())),
                        "n_real": pa.array(out_real, pa.int32()),
                        "docs": pa.array(out_docs, pa.list_(pa.string())),
                    }
                )

    return pieces.mapInArrow(pack_batchwise, pack_schema())
