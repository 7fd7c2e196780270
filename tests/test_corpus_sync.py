"""Incremental corpus preparation (operators/corpus_sync.py).

Contract under test: CorpusPipeline.sync() folds each source-commit
window through the SAME gates as the batch prepare_corpus, against
persisted state (content-hash index, CDC-maintained minhash/band
indexes, members/retractions tables), with the members table's epoch
markers as the exactly-once cursor:

* the bootstrap window reproduces the batch pipeline's verdicts and
  token accounting on the same snapshot;
* later windows gate O(window) against the persisted corpus state
  (exact dup vs index, near-dup vs posting lists, decontamination);
* updates/deletes retract members (packs are immutable — consumers
  filter by the retraction table), free their content hash and band
  postings, and re-gate new content;
* a crash between the state-table commits replays to the identical
  final state (deterministic window fold + per-table epoch cursors);
* re-running sync with no new source commits is a no-op.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from dexspark.lake import LakeTable
from dexspark.operators.corpus import CorpusConfig, prepare_corpus
from dexspark.operators.corpus_sync import CorpusPipeline

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu one two three four five "
    "six seven eight nine ten eleven twelve thirteen fourteen fifteen "
    "sixteen seventeen eighteen nineteen twenty alpha2 bravo2 charlie2 "
    "delta2 echo2 foxtrot2 golf2 hotel2 india2 juliet2 kilo2 lima2 "
    "mike2 november2 oscar2"
)

_FRESH = "completely different content " + " ".join(
    f"w{i}x unique{i}y token{i}z" for i in range(30)
)
_LEAKY = "the secret eval answer sequence " + " ".join(
    f"leak{i} benchmark{i}" for i in range(20)
)


def _base_rows():
    return [
        ("d01", _WORDS),
        ("d02", _WORDS),                      # exact dup of d01
        ("d03", _WORDS + " extraword"),       # near-dup of d01
        ("d04", "too few words"),             # quality fail
        ("d05", _WORDS.replace("alpha ", "omega ")),  # near-dup
        ("d06", _FRESH),
        ("d07", _LEAKY),                      # decontaminated
    ]


def _docs_table(spark, tmp_path, rows):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "src"), schema, key="doc_id", num_buckets=4
    )
    t.merge(spark.createDataFrame(rows, schema))
    return t


def _eval_set(spark):
    return spark.createDataFrame(
        [("e1", "xx the secret eval answer sequence leak0 benchmark0 "
          "leak1 benchmark1 yy")],
        "doc_id string, text string",
    )


def _cfg():
    return CorpusConfig(seq_len=64, eos_id=0, splits={"train": 0.8, "val": 0.2})


def _statuses(pipe):
    return {
        r["doc_id"]: r["status"] for r in pipe.members.read().collect()
    }


def _pack_tokens(pipe):
    total = 0
    for split in pipe.cfg.splits:
        try:
            df = pipe.read_packs(split)
        except Exception:
            continue
        row = df.agg(F.sum("n_real").alias("t")).collect()[0]
        total += int(row["t"] or 0)
    return total


@pytest.fixture()
def pipeline(spark, tmp_path):
    src = _docs_table(spark, tmp_path, _base_rows())
    out = str(tmp_path / "corpus")
    return CorpusPipeline(
        spark, src, out, eval_sets=[_eval_set(spark)], config=_cfg()
    )


def test_bootstrap_matches_batch(spark, tmp_path, pipeline):
    report = pipeline.sync()
    st = report["stages"]
    assert st["window_docs"] == 7 and st["retracted"] == 0
    assert st["after_quality"] == 6          # d04 out
    assert st["after_exact_dedup"] == 5      # d02 out
    assert st["after_near_dup"] == 3         # d03, d05 out
    assert st["accepted"] == 2               # d07 decontaminated

    assert _statuses(pipeline) == {
        "d01": "accepted", "d06": "accepted", "d07": "decontaminated",
        "d03": "near_dup", "d05": "near_dup",
    }
    # cursor == source head; immediate re-sync is a no-op
    assert report["synced_through"] == pipeline.source.current_version()
    again = pipeline.sync()
    assert again["applied"] is False

    # token accounting equals the batch pipeline on the same snapshot
    batch_out = str(tmp_path / "batch")
    batch = prepare_corpus(
        spark,
        pipeline.source.read().select("doc_id", "text"),
        batch_out,
        eval_sets=[_eval_set(spark)],
        config=_cfg(),
    )
    batch_tokens = sum(s["real_tokens"] for s in batch["splits"].values())
    assert _pack_tokens(pipeline) == batch_tokens

    # provenance: packed docs == batch accepted set
    packed_docs = set()
    for split in ("train", "val"):
        try:
            for r in pipeline.read_packs(split).select(
                F.explode("docs").alias("d")
            ).collect():
                packed_docs.add(r["d"])
        except Exception:
            pass
    assert packed_docs == {"d01", "d06"}


def test_incremental_window_gates_against_state(spark, pipeline):
    pipeline.sync()
    v1 = pipeline.source.current_version()
    pipeline.source.merge(spark.createDataFrame(
        [
            ("d08", _WORDS),                        # exact dup of member d01
            ("d09", _WORDS + " another tailword"),  # near-dup of indexed d01
            ("d10", " ".join(f"novel{i}a item{i}b thing{i}c"
                             for i in range(25))),  # fresh -> accepted
            ("d11", _LEAKY),                        # exact dup of MEMBER d07
        ],
        "doc_id string, text string",
    ))
    report = pipeline.sync()
    st = report["stages"]
    assert st["window_docs"] == 4 and st["retracted"] == 0
    # d08 out (hash index), d11 out (hash of decontaminated member d07
    # is still taken — its content IS in the corpus universe)
    assert st["after_exact_dedup"] == 2
    assert st["after_near_dup"] == 1          # d09 gated by indexed d01
    assert st["accepted"] == 1                # d10
    s = _statuses(pipeline)
    assert s["d10"] == "accepted" and "d08" not in s and "d09" in s
    assert s["d09"] == "near_dup"
    # the window wrote its own shard dirs only
    wdirs = [
        d for split in ("train", "val")
        for d in (os.listdir(os.path.join(pipeline.out_dir, f"split={split}"))
                  if os.path.isdir(os.path.join(pipeline.out_dir, f"split={split}"))
                  else [])
    ]
    assert any(d.startswith(f"w{v1 + 1:08d}") for d in wdirs)
    assert pipeline.sync()["applied"] is False


def test_update_delete_retract_and_hash_free(spark, pipeline):
    pipeline.sync()
    # update accepted d01 to fresh content; delete accepted d06
    pipeline.source.merge(
        spark.createDataFrame(
            [("d01", " ".join(f"re{i}written content{i}x piece{i}y"
                              for i in range(25)))],
            "doc_id string, text string",
        ),
        delete_keys=spark.createDataFrame([("d06",)], "doc_id string"),
    )
    r = pipeline.sync()
    assert r["stages"]["retracted"] == 2
    assert r["stages"]["accepted"] == 1       # d01's new content re-accepted
    retr = {
        row["doc_id"]: row["reason"]
        for row in pipeline.retractions.read().collect()
    }
    assert retr == {"d01": "updated", "d06": "deleted"}
    s = _statuses(pipeline)
    assert s["d01"] == "accepted" and "d06" not in s

    # freed state: d06's exact content and d01's OLD content are both
    # re-insertable under new ids (hash freed, band postings freed)
    pipeline.source.merge(spark.createDataFrame(
        [("d13", _FRESH), ("d14", _WORDS)],
        "doc_id string, text string",
    ))
    r2 = pipeline.sync()
    assert r2["stages"]["after_exact_dedup"] == 2
    assert r2["stages"]["accepted"] == 2
    s = _statuses(pipeline)
    assert s["d13"] == "accepted" and s["d14"] == "accepted"

    # retraction-aware pack reads: d06 (deleted) disappears entirely;
    # d01 keeps ONLY the packs of its re-accepted content's window
    # (the retraction src_version == the re-packing window)
    retract_v = {
        row["doc_id"]: row["src_version"]
        for row in pipeline.retractions.read().collect()
    }
    seen_d01 = seen_d06 = 0
    for split in ("train", "val"):
        try:
            kept = pipeline.read_packs(split, filter_retracted=True)
        except Exception:
            continue
        seen_d06 += kept.select(F.explode("docs").alias("d")).filter(
            F.col("d") == "d06"
        ).count()
        d01_packs = kept.filter(F.array_contains("docs", "d01"))
        seen_d01 += d01_packs.count()
        assert d01_packs.filter(
            F.col("window_hi") < retract_v["d01"]
        ).count() == 0
    assert seen_d06 == 0
    assert seen_d01 >= 1  # the re-accepted window's packs survive


def test_crash_between_state_commits_replays_identically(
    spark, tmp_path, monkeypatch
):
    def build(name):
        root = tmp_path / name
        root.mkdir()
        src = _docs_table(spark, root, _base_rows())
        return CorpusPipeline(
            spark, src, str(root / "corpus"),
            eval_sets=[_eval_set(spark)], config=_cfg(),
        )

    crash, clean = build("a"), build("b")
    clean.sync()

    real_merge = crash.members.merge

    def boom(*a, **k):
        raise RuntimeError("injected crash before the cursor commit")

    monkeypatch.setattr(crash.members, "merge", boom)
    with pytest.raises(RuntimeError, match="injected"):
        crash.sync()
    # indexes/hashes/retractions committed, cursor did not advance
    assert max(crash.members.epoch_state()[0], 0) == 0
    assert crash.band.epoch_state()[0] > 0

    monkeypatch.setattr(crash.members, "merge", real_merge)
    report = crash.sync()  # replay of the same window
    assert report["applied"] is True
    assert _statuses(crash) == _statuses(clean)
    assert _pack_tokens(crash) == _pack_tokens(clean)
    hashes = lambda p: {  # noqa: E731
        (r["_h"], r["owner"]) for r in p.hashes.read().collect()
    }
    assert hashes(crash) == hashes(clean)
    assert crash.sync()["applied"] is False


def test_token_only_corpus(spark, tmp_path):
    from dexspark.schema import sequences_schema

    src = LakeTable.create(
        spark, str(tmp_path / "src"), sequences_schema(), num_buckets=4
    )
    rows = [
        (f"t{i:02d}", [j % 97 for j in range(i * 7, i * 7 + 120)], 120, "a")
        for i in range(6)
    ]
    rows.append(("t90", rows[0][1], 120, "a"))  # exact dup of t00
    src.merge(spark.createDataFrame(rows, schema=sequences_schema()))
    pipe = CorpusPipeline(
        spark, src, str(tmp_path / "corpus"),
        config=CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0}),
        text="text",  # absent -> token mode
    )
    r = pipe.sync()
    st = r["stages"]
    assert st["after_quality"] == "skipped (no text column)"
    assert st["after_exact_dedup"] == 6      # t90 out
    assert st["accepted"] >= 1
    # every accepted doc's tokens pass through unchanged into packs
    assert _pack_tokens(pipe) == sum(
        120 + 1 for _ in range(st["accepted"])
    )  # +1 EOS each

    src.merge(
        spark.createDataFrame([], schema=sequences_schema()),
        delete_keys=spark.createDataFrame([("t01",)], "doc_id string"),
    )
    r2 = pipe.sync()
    assert r2["stages"]["retracted"] == 1
    assert "t01" not in _statuses(pipe)


def test_random_insert_stream_matches_batch(spark, tmp_path):
    """Property-style equivalence: a seeded random insert-only change
    stream applied across FOUR sync windows (arrival order == id
    order) reaches the same accepted set and token accounting as one
    batch prepare_corpus over the final corpus.

    Dup derivations only target docs that will be ACCEPTED or
    DECONTAMINATED (both live in the near-dup index), keeping chains
    depth-1 — the regime where batch component-dedup and streaming
    earliest-wins provably coincide. (Chains THROUGH a rejected doc
    across windows are the documented divergence and excluded.)"""
    import random

    rng = random.Random(7)
    rows, dup_sources = [], []
    for i in range(40):
        did = f"d{i:03d}"
        kind = rng.random()
        if kind < 0.15 and dup_sources:          # exact dup
            rows.append((did, rows[rng.choice(dup_sources)][1]))
        elif kind < 0.35 and dup_sources:        # near dup (1 word off)
            base = rows[rng.choice(dup_sources)][1].split(" ")
            base[rng.randrange(len(base))] = f"sub{i}z"
            rows.append((did, " ".join(base)))
        elif kind < 0.45:                        # quality fail
            rows.append((did, "too short"))
        else:                                    # fresh
            rows.append(
                (did, " ".join(
                    f"w{rng.randrange(500)}q{i}t{j}" for j in range(60)
                ))
            )
            dup_sources.append(i)
    cfg = _cfg()
    src = _docs_table(spark, tmp_path, rows[:10])
    pipe = CorpusPipeline(spark, src, str(tmp_path / "inc"), config=cfg)
    pipe.sync()
    for w in range(1, 4):
        src.merge(spark.createDataFrame(
            rows[w * 10:(w + 1) * 10], "doc_id string, text string"
        ))
        pipe.sync()

    batch = prepare_corpus(
        spark,
        src.read().select("doc_id", "text"),
        str(tmp_path / "batch"),
        config=cfg,
    )
    inc_accepted = {
        d for d, s in _statuses(pipe).items() if s == "accepted"
    }
    batch_docs = set()
    for name in cfg.splits:
        dest = batch["splits"][name]["path"]
        for r in (
            spark.read.parquet(dest)
            .select(F.explode("docs").alias("d")).collect()
        ):
            batch_docs.add(r["d"])
    assert inc_accepted == batch_docs
    batch_tokens = sum(s["real_tokens"] for s in batch["splits"].values())
    assert _pack_tokens(pipe) == batch_tokens


def test_random_update_delete_stream_invariants(spark, tmp_path):
    """Structural invariants over a random insert/update/delete stream
    (the regime where incremental semantics legitimately diverge from
    batch): after every window,

    * members' hashes are unique and the hash index maps each exactly
      to its owner (one member per content hash, owner == member);
    * the signature index rows are exactly the non-near_dup members;
    * token accounting: packed real tokens across all windows equal
      the per-window accepted (n_tok + EOS) totals;
    * deleted members vanish from members/hashes/sig."""
    import random

    rng = random.Random(11)
    src = _docs_table(spark, tmp_path, [
        (f"d{i:03d}", " ".join(f"w{rng.randrange(400)}s{i}t{j}"
                               for j in range(60)))
        for i in range(12)
    ])
    cfg = CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0})
    pipe = CorpusPipeline(spark, src, str(tmp_path / "corpus"), config=cfg)
    reports = [pipe.sync()]
    live = {f"d{i:03d}" for i in range(12)}
    next_id = 12
    for w in range(4):
        ups, dels = [], []
        for _ in range(3):
            r = rng.random()
            if r < 0.4 and live:          # update a live doc
                d = rng.choice(sorted(live))
                ups.append((d, " ".join(
                    f"u{w}x{rng.randrange(400)}y{j}" for j in range(60))))
            elif r < 0.6 and live:        # delete a live doc
                d = rng.choice(sorted(live))
                if d not in [u[0] for u in ups]:
                    dels.append(d)
                    live.discard(d)
            else:                         # insert fresh
                d = f"d{next_id:03d}"; next_id += 1
                ups.append((d, " ".join(
                    f"n{w}q{rng.randrange(400)}z{j}" for j in range(60))))
                live.add(d)
        src.merge(
            spark.createDataFrame(ups, "doc_id string, text string")
            if ups else spark.createDataFrame([], "doc_id string, text string"),
            delete_keys=spark.createDataFrame(
                [(d,) for d in dels], "doc_id string"
            ) if dels else None,
        )
        reports.append(pipe.sync())

        members = pipe.members.read().collect()
        hashes = {r["_h"]: r["owner"] for r in pipe.hashes.read().collect()}
        sig_ids = {r["doc_id"] for r in pipe.sig.read().select("doc_id").collect()}
        m_hashes = [r["_h"] for r in members]
        assert len(m_hashes) == len(set(m_hashes))       # unique hash/member
        assert hashes == {r["_h"]: r["doc_id"] for r in members}
        assert sig_ids == {
            r["doc_id"] for r in members if r["status"] != "near_dup"
        }
        for d in dels:
            assert d not in {r["doc_id"] for r in members}

    want_tokens = sum(
        sum(s["real_tokens"] for s in rep.get("splits", {}).values())
        for rep in reports
    )
    assert _pack_tokens(pipe) == want_tokens
    # retraction log covers every accepted doc that was updated/deleted
    retr = {r["doc_id"] for r in pipe.retractions.read().collect()}
    assert all(isinstance(d, str) for d in retr)


def test_fim_stage_batch_incremental_agree(spark, tmp_path):
    """CorpusConfig.fim_rate: the post-tokenize FIM stage is
    hash-deterministic, so batch and incremental pipelines transform
    identically — token totals agree and every accepted doc carries
    exactly one PRE sentinel at rate 1."""
    cfg = CorpusConfig(
        seq_len=64, eos_id=0, splits={"train": 1.0},
        fim_rate=1.0, fim_pre_id=50300, fim_mid_id=50301,
        fim_suf_id=50302,
    )
    src = _docs_table(spark, tmp_path, _base_rows())
    pipe = CorpusPipeline(spark, src, str(tmp_path / "inc"), config=cfg)
    rep = pipe.sync()
    n_accepted = rep["stages"]["accepted"]
    assert n_accepted >= 2

    batch = prepare_corpus(
        spark,
        src.read().select("doc_id", "text"),
        str(tmp_path / "batch"),
        config=cfg,
    )
    batch_tokens = sum(s["real_tokens"] for s in batch["splits"].values())
    assert _pack_tokens(pipe) == batch_tokens

    pre_count = (
        pipe.read_packs("train")
        .select(F.explode(F.slice("tokens", 1, F.col("n_real"))).alias("t"))
        .filter(F.col("t") == 50300)
        .count()
    )
    assert pre_count == n_accepted

    with pytest.raises(ValueError, match="fim_pre_id"):
        CorpusPipeline(
            spark, src, str(tmp_path / "bad"),
            config=CorpusConfig(fim_rate=0.5),
        )


def test_pack_shuffle_is_seeded_permutation(spark, tmp_path):
    """read_packs(shuffle_seed=...) is a deterministic permutation:
    same seed -> same order, different seed -> same multiset."""
    src = _docs_table(spark, tmp_path, _base_rows())
    pipe = CorpusPipeline(
        spark, src, str(tmp_path / "corpus"),
        config=CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0}),
    )
    pipe.sync()
    ids = lambda seed: [  # noqa: E731
        (r["window_hi"], r["pack_id"])
        for r in pipe.read_packs("train", shuffle_seed=seed).collect()
    ]
    a1, a2, b = ids(1), ids(1), ids(2)
    assert a1 == a2                       # deterministic
    assert sorted(a1) == sorted(b)        # permutation of the same packs
    assert len(a1) == len(set(a1))        # identity key is unique


def test_state_table_maintenance_bounds_mor_depth(spark, tmp_path):
    """Long-lived pipelines: each window is one MOR merge per state
    table; auto-compaction keeps the fold depth bounded without
    changing any verdict."""
    src = _docs_table(spark, tmp_path, [("d01", _WORDS), ("d06", _FRESH)])
    pipe = CorpusPipeline(
        spark, src, str(tmp_path / "corpus"), config=_cfg(),
        compact_every=2, vacuum_keep_last=4,
    )
    pipe.sync()
    for i in range(4):
        src.merge(spark.createDataFrame(
            [(f"n{i:02d}", " ".join(
                f"gen{i}word{j}a tail{i}x{j}b" for j in range(25)))],
            "doc_id string, text string",
        ))
        pipe.sync()
    for t in (pipe.members, pipe.hashes, pipe.sig, pipe.band):
        assert int(t.manifest().get("mor_depth", 0)) < 2 + 1
    s = _statuses(pipe)
    assert {f"n{i:02d}" for i in range(4)} <= set(s)
    assert all(v == "accepted" for v in s.values())
    # state still probes correctly after compaction: an exact dup of a
    # window-1 doc is rejected
    src.merge(spark.createDataFrame(
        [("z99", _WORDS)], "doc_id string, text string",
    ))
    r = pipe.sync()
    assert r["stages"]["after_exact_dedup"] == 0
    assert "z99" not in _statuses(pipe)


def test_cli_sync_corpus(spark, tmp_path, capsys):
    from dexspark import cli

    src = _docs_table(spark, tmp_path, _base_rows())
    ev = str(tmp_path / "ev")
    _eval_set(spark).write.parquet(ev)
    out = str(tmp_path / "corpus")
    argv = [
        "--sync-corpus", out,
        "--corpus-src", src.root,
        "--corpus-eval", ev,
        "--corpus-splits", "train=0.8,val=0.2",
        "--seq-len", "64",
        "--eos-id", "0",
    ]
    assert cli.main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["applied"] and report["stages"]["accepted"] == 2

    # no new commits -> no-op window
    assert cli.main(argv) == 0
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report2["applied"] is False

    # plain parquet src is refused (the changelog drives the fold)
    plain = str(tmp_path / "plaindocs")
    spark.createDataFrame(
        _base_rows(), "doc_id string, text string"
    ).write.parquet(plain)
    assert cli.main(["--sync-corpus", out, "--corpus-src", plain]) == 2

    # FIM flags: rate without sentinel ids is rejected up front
    with pytest.raises(SystemExit, match="fim-ids"):
        cli.main(argv + ["--fim-rate", "0.5"])
    # with ids: accepted (no new commits -> still a no-op window)
    assert cli.main(
        argv + ["--fim-rate", "0.5", "--fim-ids", "50300,50301,50302"]
    ) == 0


def test_engine_continuous_corpus(spark, tmp_path, capsys):
    """EngineConfig.corpus_dir / CLI --corpus-out: tailing a binlog
    maintains the training corpus continuously — one process from
    change events to packed shards. The engine-maintained corpus
    equals a fresh pipeline run over the final table, and a re-tail
    with a fresh checkpoint leaves the corpus untouched."""
    from dexspark import cli, gen

    binlog = str(tmp_path / "binlog")
    gen.write_binlog(
        gen.change_events(
            spark, n_events=2000, n_docs=200, n_epochs=3, max_len=24,
            anomaly_pct=0,
        ),
        binlog,
    )
    out = str(tmp_path / "corpus")
    argv = [
        "--table", str(tmp_path / "table"),
        "--binlog", binlog,
        "--checkpoint", str(tmp_path / "ck"),
        "--warehouse", str(tmp_path / "wh"),
        "--create", "--num-buckets", "8",
        "--corpus-out", out,
        "--corpus-splits", "train=1.0",
        "--seq-len", "64", "--eos-id", "0",
    ]
    assert cli.main(argv) == 0
    capsys.readouterr()

    table = LakeTable(spark, str(tmp_path / "table"))
    cfg = CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0})
    # reopening the engine's pipeline state: cursor is at the head
    pipe = CorpusPipeline(spark, table, out, config=cfg)
    assert pipe.sync()["applied"] is False
    accepted = {d for d, s in _statuses(pipe).items() if s == "accepted"}
    assert accepted  # the tail produced a corpus
    total = _pack_tokens(pipe)
    assert total > 0

    # equals a fresh pipeline over the same final table
    fresh = CorpusPipeline(
        spark, table, str(tmp_path / "corpus2"), config=cfg
    )
    fresh.sync()
    assert _statuses(fresh) == _statuses(pipe)
    assert _pack_tokens(fresh) == total

    # replay: fresh checkpoint re-tail must not move the corpus
    argv[5] = str(tmp_path / "ck2")
    assert cli.main([a for a in argv if a != "--create"]) == 0
    capsys.readouterr()
    assert pipe.sync()["applied"] is False
    assert _pack_tokens(pipe) == total


def test_routed_corpus_out_isolated_per_route(spark, tmp_path, capsys):
    """--corpus-out in --route mode fans out per-route state dirs:
    each route's pipeline carries ITS table's version cursor and packs
    only that route's docs."""
    from dexspark import cli, gen

    binlog = str(tmp_path / "binlog")
    gen.write_binlog(
        gen.change_events(
            spark, n_events=1500, n_docs=150, n_epochs=2, max_len=24,
            anomaly_pct=0,
        ),
        binlog,
    )
    out = str(tmp_path / "corpus")
    rc = cli.main([
        "--route", f"a={tmp_path / 'ra'}",
        "--route", f"b={tmp_path / 'rb'}",
        "--route-expr", "if(pmod(abs(xxhash64(doc_id)), 2) = 0, 'a', 'b')",
        "--route-default", "b",
        "--binlog", binlog,
        "--checkpoint", str(tmp_path / "ck"),
        "--warehouse", str(tmp_path / "wh"),
        "--create", "--num-buckets", "8",
        "--corpus-out", out,
        "--corpus-splits", "train=1.0",
        "--seq-len", "64", "--eos-id", "0",
    ])
    assert rc == 0
    capsys.readouterr()
    cfg = CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0})
    totals = {}
    for name in ("a", "b"):
        table = LakeTable(spark, str(tmp_path / f"r{name}"))
        pipe = CorpusPipeline(
            spark, table, os.path.join(out, name), config=cfg
        )
        assert pipe.sync()["applied"] is False  # cursor at route head
        accepted = {
            d for d, s in _statuses(pipe).items() if s == "accepted"
        }
        assert accepted
        # every member doc exists in THIS route's table (isolation)
        tbl_ids = {r["doc_id"] for r in table.read().select("doc_id").collect()}
        assert accepted <= tbl_ids
        totals[name] = accepted
    assert totals["a"].isdisjoint(totals["b"])


def test_frozen_tokenizer_across_windows(spark, tmp_path):
    src = _docs_table(
        spark, tmp_path, [("d01", _WORDS), ("d06", _FRESH)]
    )
    cfg = CorpusConfig(
        seq_len=64, eos_id=0, splits={"train": 1.0}, bpe_learn_merges=24
    )
    pipe = CorpusPipeline(spark, src, str(tmp_path / "corpus"), config=cfg)
    r1 = pipe.sync()
    assert r1.get("bpe_merges_learned", 0) > 0
    tok = os.path.join(str(tmp_path / "corpus"), "_tokenizer.json")
    with open(tok) as f:
        frozen = json.load(f)["merges"]

    src.merge(spark.createDataFrame(
        [("d10", " ".join(f"novel{i}a item{i}b" for i in range(25)))],
        "doc_id string, text string",
    ))
    r2 = pipe.sync()
    assert "bpe_merges_learned" not in r2  # not re-learned
    with open(tok) as f:
        assert json.load(f)["merges"] == frozen

    # the window-2 doc was encoded with the FROZEN merges: the
    # window's pack stream (d10 alone -> one partition) is exactly
    # d10's frozen-merge tokens + the EOS boundary
    from dexspark.operators.bpe import bpe_encode

    want = [
        t["t"]
        for t in bpe_encode(
            spark.createDataFrame(
                [("d10", " ".join(f"novel{i}a item{i}b" for i in range(25)))],
                "doc_id string, text string",
            ),
            [tuple(m) for m in frozen],
            text="text",
        ).select(F.explode("tokens").alias("t")).collect()
    ] + [cfg.eos_id]
    packs = sorted(
        pipe.read_packs("train")
        .filter(F.array_contains("docs", "d10"))
        .collect(),
        key=lambda r: r["pack_id"],
    )
    got = [t for p in packs for t in p["tokens"][: p["n_real"]]]
    assert got == want


def test_frozen_perplexity_lm_across_windows(spark, tmp_path):
    """cfg.max_ppl gates each window under an LM frozen at window 1:
    a later window's out-of-domain doc is rejected by the FROZEN
    model (a per-window retrain would have admitted it — its window
    trains a model that knows its vocabulary), an in-domain doc is
    admitted, and _lm.json never changes after the freeze."""
    from dexspark.operators.lmfilter import (
        learn_bigram_lm, lm_from_dict, score_perplexity,
    )

    w1_rows = [("d01", _WORDS), ("d06", _FRESH)]
    w2_in = ("d10", _WORDS.replace("alpha ", "newword "))  # near-domain
    w2_out = ("d11", " ".join(f"zz{i}q yy{i}r xx{i}s" for i in range(22)))

    # pick the threshold from an offline model trained exactly where
    # the pipeline will train (window-1 docs; both pass quality)
    w1 = spark.createDataFrame(w1_rows, "doc_id string, text string")
    lm0 = learn_bigram_lm(w1)
    w2 = spark.createDataFrame([w2_in, w2_out], "doc_id string, text string")
    ppl = {r["doc_id"]: r["ppl"]
           for r in score_perplexity(w1.union(w2), lm0).collect()}
    admit = max(v for k, v in ppl.items() if k != "d11")
    assert ppl["d11"] > admit  # out-of-domain genuinely separates
    thr = (admit + ppl["d11"]) / 2

    cfg = CorpusConfig(
        seq_len=64, eos_id=0, splits={"train": 1.0},
        near_dup=False, max_ppl=thr,
    )
    src = _docs_table(spark, tmp_path, w1_rows)
    pipe = CorpusPipeline(spark, src, str(tmp_path / "corpus"), config=cfg)
    r1 = pipe.sync()
    assert r1["stages"]["after_perplexity"] == 2
    assert r1["lm_vocab"] == lm0.vocab_size
    lm_path = os.path.join(str(tmp_path / "corpus"), "_lm.json")
    with open(lm_path) as f:
        frozen_bytes = f.read()
    # the frozen model scores exactly like the offline twin
    lmf = lm_from_dict(spark, json.loads(frozen_bytes))
    got = {r["doc_id"]: r["ppl"]
           for r in score_perplexity(w2, lmf).collect()}
    assert got["d11"] == pytest.approx(ppl["d11"], rel=1e-12)

    src.merge(w2)
    r2 = pipe.sync()
    assert "lm_vocab" not in r2  # not re-learned
    assert r2["stages"]["after_perplexity"] == 1  # d11 rejected
    assert r2["stages"]["accepted"] == 1
    st = _statuses(pipe)
    assert st["d10"] == "accepted" and "d11" not in st
    with open(lm_path) as f:
        assert f.read() == frozen_bytes  # freeze held


def test_crash_replay_widened_window_no_duplicate_packs(
    spark, tmp_path, monkeypatch
):
    """ADVICE r4 (high): a crash AFTER the pack write but before the
    cursor commit, followed by NEW source commits before the retry,
    folds a widened window under a different wtag. The crashed run's
    narrower shard dirs (same lo, smaller hi) must be superseded —
    removed at the retry's pack step and excluded by read_packs —
    or every doc of the crashed window is served twice."""
    fresh = lambda i: " ".join(  # noqa: E731
        f"cw{i}a{j} item{i}b{j} uniq{i}c{j}" for j in range(25)
    )
    src = _docs_table(
        spark, tmp_path, [(f"d{i:02d}", fresh(i)) for i in range(4)]
    )
    cfg = CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0})
    pipe = CorpusPipeline(spark, src, str(tmp_path / "corpus"), config=cfg)
    pipe.sync()  # window 1 clean
    v1 = src.current_version()

    src.merge(spark.createDataFrame(
        [("d10", fresh(10)), ("d11", fresh(11))],
        "doc_id string, text string",
    ))
    v2 = src.current_version()
    real_merge = pipe.members.merge
    monkeypatch.setattr(
        pipe.members, "merge",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        pipe.sync()  # packs for (v1, v2] written, cursor not advanced
    assert (v1 + 1, v2) in {
        (lo, hi) for lo, hi, _ in pipe._window_dirs("train")
    }

    # the source gains ANOTHER commit before the retry
    src.merge(spark.createDataFrame(
        [("d12", fresh(12))], "doc_id string, text string",
    ))
    v3 = src.current_version()
    monkeypatch.setattr(pipe.members, "merge", real_merge)
    report = pipe.sync()  # widened window (v1, v3]
    assert report["window"] == [v1, v3]

    # stale narrower dir removed; no two dirs share a window lo
    wdirs = pipe._window_dirs("train")
    los = [lo for lo, _, _ in wdirs]
    assert len(los) == len(set(los))
    assert (v1 + 1, v2) not in {(lo, hi) for lo, hi, _ in wdirs}
    assert (v1 + 1, v3) in {(lo, hi) for lo, hi, _ in wdirs}

    # every doc packed exactly once; totals equal a crash-free
    # pipeline over the same final source (gating is deterministic)
    clean = CorpusPipeline(
        spark, src, str(tmp_path / "corpus_clean"), config=cfg
    )
    clean.sync()
    assert _statuses(pipe) == _statuses(clean)
    assert _pack_tokens(pipe) == _pack_tokens(clean)
    # token conservation: packed real tokens == sum of (n_tok + EOS)
    # over accepted members — double-served crashed-window shards
    # would exceed this exactly
    expected = sum(
        r["n_tok"] + 1
        for r in pipe.members.read().collect()
        if r["status"] == "accepted"
    )
    assert _pack_tokens(pipe) == expected


def test_crash_replay_widened_window_deleted_doc_not_served(
    spark, tmp_path, monkeypatch
):
    """Worst case of the widened-window replay: the crashed window's
    doc is DELETED in the gap commits, so the retry packs nothing for
    it — the stale dir must still be cleared even though the retry
    writes no superseding shards for that content."""
    fresh = lambda i: " ".join(  # noqa: E731
        f"dw{i}a{j} gone{i}b{j}" for j in range(25)
    )
    src = _docs_table(spark, tmp_path, [("d00", fresh(0))])
    cfg = CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0})
    pipe = CorpusPipeline(spark, src, str(tmp_path / "corpus"), config=cfg)
    pipe.sync()

    src.merge(spark.createDataFrame(
        [("d10", fresh(10))], "doc_id string, text string",
    ))
    real_merge = pipe.members.merge
    monkeypatch.setattr(
        pipe.members, "merge",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        pipe.sync()
    # d10 deleted before the retry: the widened window's final state
    # for d10 is delete -> nothing repacked
    src.merge(
        spark.createDataFrame([], "doc_id string, text string"),
        delete_keys=spark.createDataFrame([("d10",)], "doc_id string"),
    )
    monkeypatch.setattr(pipe.members, "merge", real_merge)
    pipe.sync()
    packed = {
        r["d"]
        for r in pipe.read_packs("train")
        .select(F.explode("docs").alias("d")).collect()
    }
    assert "d10" not in packed
    assert "d10" not in _statuses(pipe)


def test_read_packs_empty_split_returns_empty_frame(spark, tmp_path):
    """ADVICE r4 (low): a split with no shard dirs yet returns an
    empty pack-schema frame, not AnalysisException."""
    src = _docs_table(spark, tmp_path, [("d01", _WORDS)])
    pipe = CorpusPipeline(
        spark, src, str(tmp_path / "corpus"),
        config=CorpusConfig(seq_len=64, eos_id=0, splits={"train": 1.0}),
    )
    df = pipe.read_packs("train")  # before any sync
    assert df.count() == 0
    assert set(df.columns) == {
        "pack_id", "tokens", "n_real", "docs", "window_hi"
    }
    # filter/shuffle paths on the empty frame are safe too
    assert pipe.read_packs("train", filter_retracted=True).count() == 0
    assert pipe.read_packs("train", shuffle_seed=3).count() == 0


def test_hash_index_owner_preserved_without_exact_dedup(spark, tmp_path):
    """ADVICE r4 (low): with exact_dedup off, deleting a member whose
    content hash is OWNED by a different live member must not drop
    that hash row from the index."""
    cfg = CorpusConfig(
        seq_len=64, eos_id=0, splits={"train": 1.0},
        exact_dedup=False, near_dup=False, quality=False,
    )
    src = _docs_table(
        spark, tmp_path, [("d01", _WORDS), ("d02", _WORDS)]
    )
    pipe = CorpusPipeline(spark, src, str(tmp_path / "corpus"), config=cfg)
    pipe.sync()
    hashes = {r["_h"]: r["owner"] for r in pipe.hashes.read().collect()}
    assert list(hashes.values()) == ["d01"]  # min-owner rule

    # delete the NON-owner sharer: the hash row must survive
    src.merge(
        spark.createDataFrame([], "doc_id string, text string"),
        delete_keys=spark.createDataFrame([("d02",)], "doc_id string"),
    )
    pipe.sync()
    after = {r["_h"]: r["owner"] for r in pipe.hashes.read().collect()}
    assert after == hashes  # d01's entry intact
    assert "d02" not in _statuses(pipe)

    # deleting the owner itself still frees the hash
    src.merge(
        spark.createDataFrame([], "doc_id string, text string"),
        delete_keys=spark.createDataFrame([("d01",)], "doc_id string"),
    )
    pipe.sync()
    assert pipe.hashes.read().count() == 0


def test_frozen_tokenizer_through_object_store_io(spark, tmp_path):
    """ADVICE r4 (medium): tokenizer persistence goes through the
    FileIO seam. On a conditional-put object store (where raw
    os.path.exists always misses), the merges must still freeze after
    window 1 — not silently re-learn every window."""
    from dexspark.fileio import ConditionalPutFileIO, FsObjectClient

    class RecordingClient(FsObjectClient):
        def __init__(self, root):
            super().__init__(root)
            self.puts, self.gets = [], []

        def put_object(self, key, body, *, if_none_match=False):
            self.puts.append(key)
            return super().put_object(
                key, body, if_none_match=if_none_match
            )

        def get_object(self, key):
            self.gets.append(key)
            return super().get_object(key)

    client = RecordingClient("/")
    io = ConditionalPutFileIO(client)
    src_schema = "doc_id string, text string"
    import pyspark.sql.types as T
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    src = LakeTable.create(
        spark, str(tmp_path / "src"), schema, key="doc_id",
        num_buckets=4, io=io,
    )
    src.merge(spark.createDataFrame(
        [("d01", _WORDS), ("d06", _FRESH)], src_schema
    ))
    cfg = CorpusConfig(
        seq_len=64, eos_id=0, splits={"train": 1.0}, bpe_learn_merges=16
    )
    # io defaults from the SOURCE table (the CdcEngine construction)
    pipe = CorpusPipeline(spark, src, str(tmp_path / "corpus"), config=cfg)
    assert pipe.io is io
    r1 = pipe.sync()
    assert r1.get("bpe_merges_learned", 0) > 0
    frozen = pipe._read_frozen()
    assert frozen  # readable back through the seam
    # the tokenizer write went THROUGH the store client (the seam),
    # not raw os.path
    assert any(k.endswith("_tokenizer.json") for k in client.puts)

    src.merge(spark.createDataFrame(
        [("d10", " ".join(f"novel{i}a item{i}b" for i in range(25)))],
        src_schema,
    ))
    client.gets.clear()
    r2 = pipe.sync()
    assert "bpe_merges_learned" not in r2  # frozen, not re-learned
    assert any(k.endswith("_tokenizer.json") for k in client.gets)
    assert pipe._read_frozen() == frozen


def test_cli_fim_ids_malformed_is_clean_usage_error(spark, tmp_path):
    """ADVICE r4 (low): wrong arity / non-integer --fim-ids exits with
    a usage error, not a raw ValueError traceback."""
    from dexspark import cli

    src = _docs_table(spark, tmp_path, _base_rows())
    base = [
        "--sync-corpus", str(tmp_path / "corpus"),
        "--corpus-src", src.root,
        "--corpus-splits", "train=1.0",
        "--seq-len", "64", "--eos-id", "0",
        "--fim-rate", "0.5",
    ]
    for bad in ("1,2", "a,b,c", "1,2,3,4", ""):
        with pytest.raises(SystemExit, match="fim-ids"):
            cli.main(base + ["--fim-ids", bad])


def test_frozen_dsir_gate_across_windows(spark, tmp_path):
    """cfg.dsir_frac gates each window under a (model, cutoff) pair
    frozen at window 1: window 1's own selection equals the batch
    top-k on the same pool, a later window's docs are admitted or
    rejected by the FROZEN admission boundary (scored offline from
    _dsir.json), the members table records the distinct
    'dsir_rejected' verdict, and _dsir.json never changes."""
    from dexspark.operators.dsir import DsirModel, gumbel_scored

    sparky = "spark query plan shuffle stage executor partition " \
             "broadcast join aggregate exchange codegen " + _WORDS
    nature = "cat dog tree house garden bird river mountain cloud " \
             "meadow stone forest " + _WORDS
    w1_rows = [(f"s{i:02d}", sparky + f" tail{i}") for i in range(4)]
    w1_rows += [(f"n{i:02d}", nature + f" tail{i}") for i in range(4)]
    target = spark.createDataFrame(
        [(f"t{i}", sparky + f" extra{i}") for i in range(6)],
        "doc_id string, text string",
    )

    cfg = CorpusConfig(
        seq_len=64, eos_id=0, splits={"train": 1.0},
        near_dup=False, dsir_frac=0.5, dsir_buckets=256,
    )
    out = str(tmp_path / "corpus")
    src = _docs_table(spark, tmp_path, w1_rows)
    pipe = CorpusPipeline(
        spark, src, out, config=cfg, dsir_target=target
    )
    r1 = pipe.sync()
    assert r1["stages"]["after_dsir"] == 4  # round(0.5 * 8)
    assert r1["dsir_frozen"]["pool"] == 8 and r1["dsir_frozen"]["k"] == 4

    # window-1 selection == the batch pipeline's top-k on the same pool
    batch = prepare_corpus(
        spark,
        spark.createDataFrame(w1_rows, "doc_id string, text string"),
        str(tmp_path / "batch"),
        config=cfg,
        dsir_target=target,
    )
    assert batch["stages"]["after_dsir"] == 4
    st = _statuses(pipe)
    inc_sel = {d for d, s in st.items() if s == "accepted"}
    batch_ids = set()
    for info in batch["splits"].values():
        if info["n_packs"]:
            for r in spark.read.parquet(info["path"]).collect():
                batch_ids.update(r["docs"])
    assert inc_sel == batch_ids
    assert {d for d, s in st.items() if s == "dsir_rejected"} == (
        set(d for d, _ in w1_rows) - inc_sel
    )

    dsir_path = os.path.join(out, "_dsir.json")
    with open(dsir_path) as f:
        frozen_bytes = f.read()
    dsd = json.loads(frozen_bytes)

    # window 2: new docs from both families; expected admissions come
    # from scoring OFFLINE under the frozen pair
    w2_rows = [("s90", sparky + " tail90"), ("s91", sparky + " tail91"),
               ("n90", nature + " tail90"), ("n91", nature + " tail91")]
    w2 = spark.createDataFrame(w2_rows, "doc_id string, text string")
    model = DsirModel.from_dict(dsd["model"])
    offline = {
        r["doc_id"]: r["dsir_score"]
        for r in gumbel_scored(w2, model, seed=cfg.seed).collect()
    }
    expect_in = {d for d, s in offline.items() if s >= dsd["cutoff"]}
    assert expect_in  # the frozen boundary admits at least one
    assert expect_in < set(offline)  # ...and rejects at least one

    src.merge(w2)
    r2 = pipe.sync()
    assert "dsir_frozen" not in r2  # not re-learned
    assert r2["stages"]["after_dsir"] == len(expect_in)
    st2 = _statuses(pipe)
    assert {d for d, _ in w2_rows if st2[d] == "accepted"} == expect_in
    with open(dsir_path) as f:
        assert f.read() == frozen_bytes  # freeze held


def test_dsir_skips_until_target_available(spark, tmp_path):
    """A pipeline with dsir_frac set but NO target skips the gate
    (reported) until a sync is given one — then freezes and gates."""
    sparky = "spark query plan shuffle stage executor partition " \
             "broadcast join aggregate exchange codegen " + _WORDS
    rows = [(f"s{i:02d}", sparky + f" tail{i}") for i in range(4)]
    cfg = CorpusConfig(
        seq_len=64, eos_id=0, splits={"train": 1.0},
        near_dup=False, dsir_frac=0.5, dsir_buckets=256,
    )
    out = str(tmp_path / "corpus")
    src = _docs_table(spark, tmp_path, rows)
    pipe = CorpusPipeline(spark, src, out, config=cfg)
    r1 = pipe.sync()
    assert r1["stages"]["after_dsir"] == "skipped (no model yet)"
    assert r1["stages"]["accepted"] == 4  # everything admitted
    assert not os.path.exists(os.path.join(out, "_dsir.json"))

    target = spark.createDataFrame(
        [("t0", sparky + " extra")], "doc_id string, text string"
    )
    src.merge(spark.createDataFrame(
        [("s90", sparky + " tail90"), ("s91", sparky + " tail91")],
        "doc_id string, text string",
    ))
    pipe2 = CorpusPipeline(spark, src, out, config=cfg, dsir_target=target)
    r2 = pipe2.sync()
    assert isinstance(r2["stages"]["after_dsir"], int)
    assert os.path.exists(os.path.join(out, "_dsir.json"))


def test_cli_sync_corpus_dsir_needs_target_until_frozen(
    spark, tmp_path, capsys
):
    """--sync-corpus with --dsir-frac but neither --dsir-target nor a
    frozen _dsir.json fails fast (exit 2, JSON error, no state written)
    instead of passing every window ungated; once a window has frozen
    the model, a resumed run needs no target."""
    from dexspark import cli

    sparky = "spark query plan shuffle stage executor partition " \
             "broadcast join aggregate exchange codegen " + _WORDS
    src = _docs_table(
        spark, tmp_path, [(f"s{i:02d}", sparky + f" tail{i}") for i in range(4)]
    )
    out = str(tmp_path / "corpus")
    argv = [
        "--sync-corpus", out,
        "--corpus-src", src.root,
        "--corpus-splits", "train=1.0",
        "--seq-len", "64", "--eos-id", "0",
        "--dsir-frac", "0.5", "--dsir-buckets", "256",
    ]
    assert cli.main(argv) == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "--dsir-target" in err["error"]
    assert not os.path.exists(out)

    target = str(tmp_path / "target")
    spark.createDataFrame(
        [("t0", sparky + " extra")], "doc_id string, text string"
    ).write.parquet(target)
    assert cli.main(argv + ["--dsir-target", target]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert isinstance(r1["stages"]["after_dsir"], int)
    assert os.path.exists(os.path.join(out, "_dsir.json"))

    # resumed, no target: the frozen model stands in (no new commits,
    # so a no-op window)
    assert cli.main(argv) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["applied"] is False


def test_cli_corpus_out_dsir_needs_target_until_frozen(
    spark, tmp_path, capsys
):
    """--corpus-out with --dsir-frac but neither --dsir-target nor a
    frozen _dsir.json fails fast (exit 2, JSON error) before the tail
    creates or applies anything, instead of packing every window
    ungated — for one table and for every route's state dir."""
    from dexspark import cli, gen

    binlog = str(tmp_path / "binlog")
    gen.write_binlog(
        gen.change_events(
            spark, n_events=100, n_docs=20, n_epochs=1, max_len=8,
            anomaly_pct=0,
        ),
        binlog,
    )
    out = str(tmp_path / "corpus")
    common = [
        "--binlog", binlog,
        "--checkpoint", str(tmp_path / "ck"),
        "--warehouse", str(tmp_path / "wh"),
        "--create", "--num-buckets", "4",
        "--corpus-out", out,
        "--corpus-splits", "train=1.0",
        "--seq-len", "64", "--eos-id", "0",
        "--dsir-frac", "0.5", "--dsir-buckets", "256",
    ]
    table = str(tmp_path / "table")
    assert cli.main(["--table", table] + common) == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "--dsir-target" in err["error"] and "--corpus-out" in err["error"]
    assert not os.path.exists(table) and not os.path.exists(out)

    routes = [
        "--route", f"a={tmp_path / 'ra'}",
        "--route", f"b={tmp_path / 'rb'}",
        "--route-expr", "'a'",
    ]
    assert cli.main(routes + common) == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "--dsir-target" in err["error"]
    assert not os.path.exists(tmp_path / "ra") and not os.path.exists(out)
