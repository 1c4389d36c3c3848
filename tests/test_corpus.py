"""Tests for corpus operators: decontamination, repetition stats,
temperature mixing/sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_scd_spark.operators import corpus


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # doc 10 is "eval" under pred doc_id % 10 == 0; doc 1 copies a
        # 5-gram from it, doc 2 shares nothing, doc 3 is repetitive.
        (10, "alpha beta gamma delta epsilon zeta eta theta", "web"),
        (1, "x y alpha beta gamma delta epsilon q r s", "web"),
        (2, "entirely disjoint vocabulary with no overlap at all", "web"),
        (3, "spam spam spam spam spam spam spam spam spam spam", "books"),
        (4, "one two three four five six seven eight nine ten", "books"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_decontaminate_report(docs):
    out = {
        r["doc_id"]: r
        for r in corpus.decontaminate_report(
            docs, eval_pred=(F.col("doc_id") % 10 == 0), n=5
        ).collect()
    }
    # Only doc 1 shares a 5-gram with the eval doc; eval docs
    # themselves never appear in the report.
    assert set(out) == {1}
    assert out[1]["n_eval_docs_hit"] == 1
    # "alpha beta gamma delta epsilon" is the single shared 5-gram.
    assert out[1]["n_overlap_grams"] == 1


def test_repetition_stats(docs):
    out = {
        r["doc_id"]: r for r in corpus.repetition_stats(docs).collect()
    }
    assert set(out) == {10, 1, 2, 3, 4}
    # doc 3: 10 copies of one token -> dup frac 0.9, top bigram
    # "spam spam" occurs 9 times covering 18/10 tokens (capped concept
    # not applied; raw ratio is 1.8).
    assert out[3]["dup_token_frac"] == pytest.approx(0.9)
    assert out[3]["top_bigram_count"] == 9
    assert out[3]["repetitive"] is True
    # doc 4: all distinct -> zero repetition, unique bigrams only.
    assert out[4]["dup_token_frac"] == 0.0
    assert out[4]["top_bigram_count"] == 1
    assert out[4]["repetitive"] is False


def test_mix_weights_normalized(docs):
    rows = corpus.mix_weights(docs, alpha=0.7).collect()
    assert {r["source"] for r in rows} == {"web", "books"}
    assert sum(r["weight"] for r in rows) == pytest.approx(1.0, abs=1e-5)
    for r in rows:
        assert r["epochs"] > 0
        # alpha<1 flattens: every source's weight exceeds what a
        # proportional-to-tokens mix would give the smaller source.
        assert 0 < r["weight"] < 1


def test_temperature_sample_deterministic(docs):
    a = corpus.temperature_sample(docs, alpha=0.7, budget_frac=0.5)
    b = corpus.temperature_sample(docs, alpha=0.7, budget_frac=0.5)
    ra = sorted(r["doc_id"] for r in a.collect())
    rb = sorted(r["doc_id"] for r in b.collect())
    assert ra == rb  # reproducible: no rand() anywhere
    rates = {r["source"]: r["keep_rate"] for r in a.collect()}
    assert all(0 < v <= 1.0 for v in rates.values())
    # Sampled docs are a subset of the corpus.
    assert set(ra) <= {1, 2, 3, 4, 10}


def test_chunk_documents_windows(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(30))), (2, "a b c")],
        ["doc_id", "text"],
    )
    out = corpus.chunk_documents(df, chunk_tokens=16, stride=12).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 30 tokens -> ceil((30-16)/12)+1 = 3 chunks; short doc -> 1 chunk.
    assert len(by_doc[1]) == 3 and len(by_doc[2]) == 1
    c = {r["chunk_id"]: r for r in by_doc[1]}
    assert c[0]["chunk_text"].split()[0] == "t0"
    assert c[1]["chunk_text"].split()[0] == "t12"  # stride overlap
    assert c[2]["n_tokens"] == 6  # tokens 24..29
    # Every token appears in at least one chunk.
    covered = {t for r in by_doc[1] for t in r["chunk_text"].split()}
    assert covered == {f"t{i}" for i in range(30)}


def test_knn_label_vote_flags_planted_outlier(spark):
    from pyspark_scd_spark.operators import similarity

    # Two tight clusters; vec 99 sits in cluster A but is labeled B.
    rows = []
    for i in range(6):
        rows.append((i, [1.0 + 0.01 * i, 0.0, 0.1], 0))
    for i in range(6, 12):
        rows.append((i, [0.0, 1.0 + 0.01 * i, 0.1], 1))
    rows.append((99, [1.0, 0.001, 0.1], 1))  # geometrically cluster 0
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {
        r["vec_id"]: r
        for r in similarity.knn_label_vote_grid(df, k=5).collect()
    }
    assert out[99]["mislabeled"] is True
    assert out[99]["predicted_label"] == 0
    assert out[0]["mislabeled"] is False
    # n_agree is a majority of k=5.
    assert out[99]["n_agree"] >= 3


def test_clean_corpus_invariants(spark, sf_dir):
    from pyspark_scd_spark.sources.readers import read_parquet_table

    d = read_parquet_table(spark, sf_dir, "documents")
    out = corpus.clean_corpus(
        d, eval_pred=(F.col("doc_id") % 10 == 0), quality_threshold=0.5
    )
    rows = out.collect()
    ids = [r["doc_id"] for r in rows]
    # No eval docs, no duplicates, all above the quality gate.
    assert all(i % 10 != 0 for i in ids)
    assert len(ids) == len(set(ids))
    assert all(r["quality"] >= 0.5 for r in rows)
    # Survivors are a strict subset of the corpus.
    assert 0 < len(ids) < d.count()
    # Contaminated docs are really gone.
    cont = {
        r["doc_id"]
        for r in corpus.decontaminate_report(
            d, eval_pred=(F.col("doc_id") % 10 == 0)
        ).collect()
    }
    assert not (set(ids) & cont)


def test_approx_sketch_within_tolerance(spark, sf_dir):
    from pyspark_scd_spark.registry import REGISTRY

    r = REGISTRY["approx_sketch_stats"].builder(spark, sf_dir).collect()[0]
    assert r["orders_err_le_5pct"] and r["parts_err_le_5pct"], r
    # approx_percentile is exact-rank-within-accuracy: sanity bound.
    assert r["p50_err_le_5pct"], r
    assert r["exact_orders"] > 0 and r["exact_p50_price"] > 0


def test_corpus_prep_job_end_to_end(spark, sf_dir, tmp_path):
    from pyspark_scd_spark.jobs import corpus_prep

    out = str(tmp_path / "corpus_out")
    chunks, mix = corpus_prep.run(spark, sf_dir, out)
    n1 = chunks.count()
    assert n1 > 0 and mix.count() > 0
    # Chunk grain unique; every chunk's doc survived cleaning (no
    # eval docs by construction of the default predicate).
    assert (
        chunks.select("doc_id", "chunk_id").distinct().count() == n1
    )
    assert chunks.filter(F.col("doc_id") % 10 == 0).count() == 0
    # Partitioned layout by source on disk.
    import os
    assert any(
        p.startswith("source=") for p in os.listdir(out + "/chunks")
    )
    # Weights in the manifest are normalized over the CLEAN corpus.
    assert sum(r["weight"] for r in mix.collect()) == pytest.approx(
        1.0, abs=1e-4
    )
    # Re-run is idempotent (staged overwrite, same input -> same rows).
    chunks2, _ = corpus_prep.run(spark, sf_dir, out)
    assert chunks2.count() == n1


def _bpe_reference(docs: list[list[str]], n_merges: int):
    """Pure-Python BPE trainer: the semantics bpe_train_merges must
    reproduce (greedy left-to-right non-overlapping merge apply)."""
    merges = []
    state = [list(t) for t in docs]
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for t in state:
            for x, y in zip(t, t[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + 1
        (a, b), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        new_state = []
        for t in state:
            out: list[str] = []
            i = 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(a + "\x1f" + b)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            new_state.append(out)
        state = new_state
        merges.append((step, a, b, freq, sum(len(t) for t in state)))
    return merges, state


def test_bpe_train_merges_matches_reference(spark):
    # 'a a a a a' exercises the overlapping-run greedy rule; 'x y' the
    # plain case; doc 3 makes (x,y) win round 1.
    rows = [
        (1, "a a a a a"),
        (2, "x y x y x y"),
        (3, "x y b a a"),
        (4, "y x y x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merge_table, final_rows = corpus.bpe_train_merges(df, n_merges=3)
    got = [
        (r["step"], r["token_a"], r["token_b"], r["pair_freq"],
         r["tokens_after"])
        for r in merge_table.orderBy("step").collect()
    ]
    docs = [t.split() for _, t in rows]
    want, want_state = _bpe_reference(docs, 3)
    assert got == want
    # final exploded corpus state matches the reference merge apply
    state_rows = sorted(
        (r["doc_id"], r["pos"], r["tok"]) for r in final_rows.collect()
    )
    want_rows = sorted(
        (i + 1, p, tok)
        for i, t in enumerate(want_state)
        for p, tok in enumerate(t)
    )
    assert state_rows == want_rows


def test_bpe_train_merges_pairless_corpus(spark):
    # single-token docs have no adjacent pairs: training stops early
    # with an empty merge table instead of raising.
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], ["doc_id", "text"]
    )
    merge_table, rows = corpus.bpe_train_merges(df, n_merges=2)
    assert merge_table.count() == 0
    assert rows.count() == 2


def test_epoch_materialize_copy_counts(spark):
    # one source, epochs known: big source gets ~budget_frac epochs
    rows = [(i, "tok " * 10, "web") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # single source: weight=1, epochs=1 -> e = budget_frac exactly
    out = corpus.epoch_materialize(df, budget_frac=2.25).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["copy_id"])
    # every doc emits 2 or 3 copies, numbered 1..n
    for d, copies in per_doc.items():
        assert sorted(copies) in ([1, 2], [1, 2, 3])
    assert len(per_doc) == 20
    n3 = sum(1 for c in per_doc.values() if len(c) == 3)
    # frac = 0.25: roughly a quarter gets the extra copy (md5-driven,
    # loose bound)
    assert 1 <= n3 <= 12
    # determinism
    out2 = corpus.epoch_materialize(df, budget_frac=2.25).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_epoch_shuffle_permutation_properties(spark):
    df = spark.createDataFrame(
        [(i, "x") for i in range(100)], ["doc_id", "text"]
    )
    e0 = corpus.epoch_shuffle_shards(df, n_shards=4, epoch=0).collect()
    e0b = corpus.epoch_shuffle_shards(df, n_shards=4, epoch=0).collect()
    e1 = corpus.epoch_shuffle_shards(df, n_shards=4, epoch=1).collect()
    # every doc exactly once; positions dense 0..k-1 per shard
    assert sorted(r["doc_id"] for r in e0) == list(range(100))
    by_shard = {}
    for r in e0:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    assert set(by_shard) <= {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # deterministic within an epoch, different across epochs
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["position"]) for r in rows)
    assert key(e0) == key(e0b)
    assert key(e0) != key(e1)


def test_bpe_batched_reaches_50_merges_in_bounded_jobs(spark, sf_dir):
    """The vocab-scale contract: >=50 merges in a bounded number of
    corpus passes (each pass = one pair-count job + one apply job,
    driver state = batch_size pair rows). Properties asserted:
    contiguous global step numbering, per-round token-disjointness of
    the kept batch, monotonically non-increasing corpus token count,
    and every merged token reconstructible from its pair."""
    from pyspark_scd_spark.operators import corpus
    from pyspark_scd_spark.sources.readers import read_parquet_table

    d = read_parquet_table(spark, sf_dir, "documents")
    rounds, batch = 12, 32
    mt, toks = corpus.bpe_train_merges_batched(
        d, rounds=rounds, batch_size=batch
    )
    rows = sorted(mt.collect(), key=lambda r: r["step"])
    assert len(rows) >= 50, len(rows)
    assert [r["step"] for r in rows] == list(range(1, len(rows) + 1))
    # tokens_after groups rounds; within a round the kept pairs are
    # token-disjoint, across rounds the count never increases
    by_round: dict = {}
    for r in rows:
        by_round.setdefault(r["tokens_after"], []).append(r)
    counts = [r["tokens_after"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for rnd in by_round.values():
        seen: set = set()
        for r in rnd:
            assert r["token_a"] not in seen and r["token_b"] not in seen
            seen.add(r["token_a"])
            seen.add(r["token_b"])
        freqs = [r["pair_freq"] for r in rnd]
        assert freqs == sorted(freqs, reverse=True)
    # the final corpus only contains tokens derivable from the merge
    # table's vocabulary (raw tokens or sep-joined merge products)
    merged = {
        r["token_a"] + "\x1f" + r["token_b"] for r in rows
    }
    sample = toks.filter(F.col("tok").contains("\x1f")).limit(50).collect()
    assert sample, "expected some merged tokens in the final corpus"
    for r in sample:
        assert r["tok"] in merged or any(
            r["tok"].startswith(m + "\x1f") or r["tok"].endswith("\x1f" + m)
            for m in merged
        ) or "\x1f" in r["tok"]


def test_pii_scrub_masks_and_counts(spark):
    from pyspark_scd_spark.operators import corpus

    rows = [
        (1, "mail a.b-c@x.co and b@y.org, call 555-123-4567 "
            "or 555.987.6543, host 10.0.0.1 end"),
        (2, "no pii here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in corpus.pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 2
    assert got[1]["n_phones"] == 2
    assert got[1]["n_ips"] == 1
    assert got[1]["scrubbed"] == (
        "mail <EMAIL> and <EMAIL>, call <PHONE> "
        "or <PHONE>, host <IP> end"
    )
    assert got[2] == {
        "doc_id": 2, "scrubbed": "no pii here",
        "n_emails": 0, "n_phones": 0, "n_ips": 0,
    }


def test_char_trigram_perplexity_matches_python_reference(spark):
    import math
    from collections import Counter

    from pyspark_scd_spark.operators import corpus

    rows = [(1, "ababab"), (2, "abcdef"), (3, "xy")]  # doc 3: no grams
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_grams"], r["perplexity"])
        for r in corpus.char_trigram_perplexity(df).collect()
    }
    grams = {}
    for i, t in rows:
        t = t.lower()
        grams[i] = [t[j : j + 3] for j in range(len(t) - 2)]
    all_g = [g for gs in grams.values() for g in gs]
    tri = Counter(all_g)
    cx = Counter(g[:2] for g in all_g)
    v = len({g[2] for g in all_g})
    want = {}
    for i, gs in grams.items():
        if not gs:
            continue
        nll = [-math.log((tri[g] + 1.0) / (cx[g[:2]] + v)) for g in gs]
        want[i] = (len(gs), round(math.exp(sum(nll) / len(nll)), 4))
    assert set(got) == set(want) == {1, 2}
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) < 1e-9


def test_paragraph_dedup_first_occurrence_wins(spark):
    # 4-word paragraphs. Doc 1's second span duplicates doc 0's first
    # span, so doc 0 keeps both spans and doc 1 keeps only its first.
    rows = [
        (0, "a b c d e f g h"),
        (1, "x y z w a b c d"),
        (2, "x y z w a b c d"),  # full duplicate of doc 1: keeps nothing
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in corpus.paragraph_dedup(df, para_words=4).collect()
    }
    assert out[0]["n_paras"] == 2 and out[0]["n_kept"] == 2
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 1
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 0
    # reassembled survivor text is pinned byte-for-byte
    import hashlib

    assert out[0]["kept_text_md5"] == hashlib.md5(
        b"a b c d e f g h"
    ).hexdigest()
    assert out[1]["kept_text_md5"] == hashlib.md5(b"x y z w").hexdigest()
    assert out[2]["kept_text_md5"] == hashlib.md5(b"").hexdigest()


def test_bloom_decontaminate_flags_superset_of_exact(spark, sf_dir):
    """Bloom membership can only ADD false positives: every doc the
    exact broadcast-set report flags must be flagged by the filter,
    and flagged gram counts dominate the exact overlap counts."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pred = F.col("doc_id") % 10 == 0
    bloom = {
        r["doc_id"]: r
        for r in corpus.bloom_decontaminate(docs, pred, n=5).collect()
    }
    exact = {
        r["doc_id"]: r
        for r in corpus.decontaminate_report(docs, pred, n=5).collect()
    }
    # decontaminate_report counts gram INSTANCES over distinct-per-doc
    # grams, same universe as bloom's n_flagged upper bound
    assert set(exact) <= {d for d, r in bloom.items() if r["is_flagged"]}
    for d, r in exact.items():
        assert bloom[d]["n_flagged"] >= r["n_overlap_grams"]


def test_tokenizer_fertility_values(spark):
    rows = [
        (0, "aaaa bb", "s1", "en"),   # words 2, subwords 1+1=2, bytes 7
        (1, "aaaaa", "s1", "en"),     # words 1, subwords 2, bytes 5
        (2, "cc dd", "s2", "fr"),     # words 2, subwords 2, bytes 5
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
    out = {
        (r["source"], r["lang"]): r
        for r in corpus.tokenizer_fertility(df).collect()
    }
    s1 = out[("s1", "en")]
    assert s1["n_docs"] == 2 and s1["n_words"] == 3 and s1["n_subwords"] == 4
    assert s1["fertility"] == round(4 / 3, 4)
    assert s1["bytes_per_subword"] == round(12 / 4, 4)
    assert out[("s2", "fr")]["fertility"] == 1.0


def test_train_holdout_split_partitions_and_shares(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.train_holdout_split(docs).collect()
    splits = {r["split"] for r in out}
    assert splits <= {"train", "val", "test"}
    total = sum(r["n_docs"] for r in out)
    assert total == docs.count()
    # ~80/10/10 by construction of the md5 fraction (loose bounds)
    by_split = {}
    for r in out:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    assert by_split["train"] / total > 0.7
    # shares within each split sum to ~1
    for s in splits:
        share = sum(r["share_of_split"] for r in out if r["split"] == s)
        assert abs(share - 1.0) < 0.01
    # determinism: same assignment on re-run
    again = corpus.train_holdout_split(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_quality_classifier_matches_python_reference(spark):
    import math

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "le chat 123 456 789 000 111 222", "fr"),
        (2, "one two three four five six seven one one", "en"),
        (3, "9999 8888 7777 6666", "fr"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    scored, w = corpus.quality_classifier_train(
        df, label_pred=(F.col("lang") == "en"), n_steps=2, lr=0.5
    )
    out = {r["doc_id"]: r for r in scored.collect()}

    # Python brute force with the same determinism contract:
    # 9dp-rounded gradients (half-up like the engines' ROUND), exact
    # IEEE weight updates.
    from decimal import Decimal, ROUND_HALF_UP

    def r9(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)
        )

    feats = []
    for _, text, lang in rows:
        toks = [t for t in "".join(
            c if c.isalnum() else " " for c in text.lower()
        ).split() if t]
        n = float(len(toks))
        x = [
            1.0,
            min(1.0, n / 100.0),
            (len(set(toks)) / n) if n else 0.0,
            sum(c.isdigit() for c in text) / len(text),
        ]
        feats.append((1 if lang == "en" else 0, x))
    ww = [0.0] * 4
    for _ in range(2):
        gs = []
        for k in range(4):
            tot = 0.0
            for y, x in feats:
                z = sum(ww[j] * x[j] for j in range(4))
                tot += (1.0 / (1.0 + math.exp(-z)) - y) * x[k]
            gs.append(r9(tot / len(feats)))
        ww = [ww[k] - 0.5 * gs[k] for k in range(4)]
    assert w == pytest.approx(ww, abs=1e-12)
    for (doc_id, _, lang), (y, x) in zip(rows, feats):
        z = sum(ww[j] * x[j] for j in range(4))
        p = round(1.0 / (1.0 + math.exp(-z)), 4)
        assert out[doc_id]["score"] == pytest.approx(p, abs=2e-4)
        assert out[doc_id]["label"] == y


def test_quality_classifier_one_job_per_step(spark):
    """Each GD step is one Spark job (step 1 rides the feature
    checkpoint); with no steps nothing runs and the w=0 scores still
    come out."""
    from tests.test_employee_job import _jobs_of

    df = spark.createDataFrame(
        [(i, f"doc {i} " + "word " * i, "en" if i % 2 else "fr")
         for i in range(20)],
        ["doc_id", "text", "lang"],
    )
    label = F.col("lang") == "en"
    out = {}

    def train(n_steps):
        out[n_steps] = corpus.quality_classifier_train(df, label, n_steps=n_steps)

    assert _jobs_of(spark, lambda: train(3)) == 3
    assert _jobs_of(spark, lambda: train(0)) == 0
    assert out[3][1] != [0.0] * 4
    scored, w = out[0]
    assert w == [0.0] * 4
    rows = scored.collect()
    assert len(rows) == 20
    assert {r["score"] for r in rows} == {0.5}


def test_minhash_recall_report_invariants(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = dedup.minhash_recall_report(
        docs, n=3, threshold=0.5, num_hashes=16, bands=2
    ).collect()
    assert rows, "corpus has near-dup pairs; report must be non-empty"
    for r in rows:
        assert 5 <= r["band_lo"] <= 10
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert 0.0 <= r["recall"] <= 1.0
        assert 0.0 <= r["expected_recall"] <= 1.0
    # the totals must account for every exact pair
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).count()
    assert sum(r["n_pairs"] for r in rows) == exact
    # identical documents (j = 1.0) can never be missed: identical
    # shingle sets give identical signatures in every band
    top = [r for r in rows if r["band_lo"] == 10]
    for r in top:
        assert r["recall"] == 1.0


def test_minhash_universal_constants_deterministic():
    from pyspark_scd_spark.operators.dedup import (
        MINHASH_P,
        minhash_universal_constants,
    )

    c1 = minhash_universal_constants(16)
    c2 = minhash_universal_constants(16)
    assert c1 == c2 and len(set(c1)) == 16
    for a, b in c1:
        assert 1 <= a < MINHASH_P and 0 <= b < MINHASH_P


def test_preference_bt_rank_properties(spark):
    import math

    # source A's docs always beat source B's (higher diversity and no
    # digits) under the doc-2k-vs-2k+1 pairing, so theta_A > 0 > theta_B.
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "A"),
        (1, "9999 9999 9999 9999 9999 9999", "B"),
        (2, "one two three four five six seven", "A"),
        (3, "1111 1111 1111 1111", "B"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in corpus.preference_bt_rank(df).collect()}
    assert set(out) == {"A", "B"}
    assert out["A"]["n_wins"] == 2 and out["A"]["n_matches"] == 2
    assert out["B"]["n_wins"] == 0 and out["B"]["n_matches"] == 2
    assert out["A"]["theta"] > 0 > out["B"]["theta"]
    # symmetric two-player zero-sum: thetas mirror
    assert abs(out["A"]["theta"] + out["B"]["theta"]) < 1e-9
    # closed form: every match has the same residual each step
    th = 0.0
    for _ in range(3):
        r = round(1.0 - 1.0 / (1.0 + math.exp(-(th - (-th)))), 9)
        th += 0.5 * r
    assert out["A"]["theta"] == pytest.approx(round(th, 4), abs=1e-9)


def test_cross_source_dup_matrix_histogram_arithmetic(spark):
    from pyspark_scd_spark.operators import dedup

    rows = [
        (0, "same text", "A"),
        (1, "same text", "A"),
        (2, "same text", "B"),
        (3, "unique one", "A"),
        (4, "other dup", "B"),
        (5, "other dup", "C"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        (r["source_a"], r["source_b"]): r["n_dup_pairs"]
        for r in dedup.cross_source_dup_matrix(df).collect()
    }
    # group {0,1,2}: within-A C(2,2)=1, cross A-B 2*1=2; group {4,5}: B-C 1
    assert out == {("A", "A"): 1, ("A", "B"): 2, ("B", "C"): 1}


def test_doc_length_histogram_accounts_everything(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = sorted(
        corpus.doc_length_histogram(docs).collect(),
        key=lambda r: r["bucket_lo"],
    )
    assert sum(r["n_docs"] for r in rows) == docs.count()
    shares = [r["cum_token_share"] for r in rows]
    assert shares == sorted(shares) and abs(shares[-1] - 1.0) < 1e-9


def test_cms_estimate_dominates_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = corpus.cms_vocab_topk(docs, depth=3, width=1024, k=20).collect()
    assert len(rows) == 20
    for r in rows:
        # the CMS invariant: never underestimates
        assert r["cms_estimate"] >= r["exact_count"]
        assert r["overestimate"] == r["cms_estimate"] - r["exact_count"]
    # determinism: the md5-positioned counters make the sketch (and
    # therefore every over-estimate) reproducible bit-for-bit
    again = corpus.cms_vocab_topk(docs, depth=3, width=1024, k=20).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_short_doc_edge_cases_survive(spark):
    """Review-pass regressions: docs shorter than the gram order (or
    empty after tokenization) must neither crash the scan-side ops
    nor diverge from the oracle convention (gram-less docs are
    simply absent from per-gram reports)."""
    from pyspark_scd_spark.operators import dedup

    rows = [
        (0, "hello world", "A", "en"),          # 2 tokens < n=5
        (1, "!!! ---", "A", "en"),               # tokenizes to []
        (2, "one two three four five six", "B", "en"),
        (3, "one two three four five six", "B", None),  # NULL lang
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])

    out = corpus.bloom_decontaminate(
        df, eval_pred=(F.col("doc_id") % 10 == 0), n=5
    ).collect()
    assert {r["doc_id"] for r in out} == {2, 3}  # short docs absent

    p = {r["doc_id"]: r for r in corpus.paragraph_dedup(df, para_words=4).collect()}
    assert 1 not in p  # zero-token doc absent, no phantom spans
    assert p[0]["n_paras"] == 1

    rr = dedup.minhash_recall_report(df, n=3, threshold=0.5)
    rr.collect()  # must not crash on the 2-token/0-token docs

    scored, _ = corpus.quality_classifier_train(
        df, label_pred=(F.col("lang") == "en"), n_steps=1
    )
    got = {r["doc_id"]: r["label"] for r in scored.collect()}
    assert got[3] == 0  # NULL lang -> label 0, not NULL/dropped

    corpus.preference_bt_rank(df).collect()  # no crash, no NULL q

    import pytest as _pt

    with _pt.raises(ValueError):
        corpus.bloom_bitmap(df, m_bits=1000)


def test_word_helpers_short_arrays_yield_empty(spark):
    """decontaminate_report and repetition_stats over short docs:
    pre-guard these crashed on the descending sequence(0, size-n)."""
    rows = [
        (1, "one", "A"),                 # 1 token < bigram order
        (2, "", "A"),                    # empty
        (3, "a b c d e f", "B"),
        (30, "a b c d e f", "B"),        # eval twin of doc 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    rep = {r["doc_id"]: r for r in corpus.repetition_stats(df).collect()}
    assert rep[1]["top_bigram_count"] == 0 and rep[2]["n_tok"] == 0
    dec = {
        r["doc_id"]: r
        for r in corpus.decontaminate_report(
            df, eval_pred=(F.col("doc_id") % 10 == 0), n=5
        ).collect()
    }
    assert set(dec) == {3}  # short docs contribute no grams, no crash


def test_dedup_saturation_curve_shape(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = sorted(
        dedup.dedup_saturation_curve(docs, n_slices=10).collect(),
        key=lambda r: r["slice_no"],
    )
    assert [r["slice_no"] for r in rows] == list(range(1, 11))
    assert sum(r["n_docs"] for r in rows) == docs.count()
    total_new = sum(r["n_new"] for r in rows)
    uniques = docs.select(
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    ).distinct().count()
    assert total_new == uniques
    # the cumulative share is the running uniques/docs ratio; final
    # point equals the corpus-wide unique share
    assert rows[-1]["cum_unique_share"] == round(
        uniques / docs.count(), 4
    )


def test_matryoshka_recall_identity_at_full_dim(spark, sf_dir):
    """Truncating to the FULL dimension must give recall 1.0 per
    query (the two legs are then identical rankings)."""
    from pyspark_scd_spark.operators import similarity

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(e.first()["embedding"])
    q = e.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = similarity.matryoshka_recall_report(
        e, q, trunc_dim=dim, k=10
    ).collect()
    assert rows and all(r["recall_at_10"] == 1.0 for r in rows)
    for r in rows:
        assert r["full_mean_cosine"] == r["trunc_mean_cosine"]
    # and a real truncation loses at most everything, gains nothing
    rows16 = similarity.matryoshka_recall_report(
        e, q, trunc_dim=16, k=10
    ).collect()
    assert all(0.0 <= r["recall_at_10"] <= 1.0 for r in rows16)


def test_corpus_release_manifest_matches_python_model(spark):
    """The nine-stage release composite against an independent pure-
    Python model on a corpus engineered so EVERY stage drops
    something: an eval doc, an exact duplicate, a near duplicate, a
    shared 16-token paragraph, a contaminated doc, a low-quality doc,
    and a temperature-sampled tail."""
    import hashlib
    import re
    from collections import Counter

    from pyspark_scd_spark.operators import corpus as C

    P = ("paraone paratwo parathree parafour parafive parasix "
         "paraseven paraeight paranine paraten paraeleven paratwelve "
         "parathirteen parafourteen parafifteen parasixteen")
    A = ("unique alpha text with many different interesting words "
         "covering several distinct topics and offering plenty of "
         "lexical diversity for the quality gate to approve easily")
    docs = {
        10: "alpha beta gamma delta epsilon held out for evaluation "
            "purposes only with some extra words",
        1: "the quick brown fox jumps over that lazy dog repeatedly "
           "and often without ever stopping for breath anywhere",
        2: "the quick brown fox jumps over that lazy dog repeatedly "
           "and often without ever stopping for breath anywhere",
        3: A,
        4: A.replace("offering", "providing"),
        5: P + " tailfive one tailfive two tailfive three tailfive "
               "four tailfive five tailfive six tailfive seven",
        6: P + " tailsix uno tailsix duo tailsix tres tailsix "
               "quattro tailsix cinque tailsix sei tailsix sette",
        7: "this training document sadly contains alpha beta gamma "
           "delta epsilon verbatim plus enough other words to pass "
           "every other gate comfortably here",
        8: "1 2 3",
        11: "filler eleven carries assorted vocabulary nobody else "
            "uses anywhere including zirconium marmalade telescopes "
            "quadrants and wandering albatross formations today",
        12: "filler twelve speaks of entirely separate matters such "
            "as limestone harmonicas juggling porcupines sailing "
            "ketches and improbable lighthouse keepers",
        13: "filler thirteen rambles about distinct subjects like "
            "velvet asteroids crocheted submarines peppermint "
            "glaciers and the occasional bashful meteorite",
    }
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in docs.items()],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        r["stage"]: (r["n_docs"], r["n_tokens"], r["content_sig"])
        for r in C.corpus_release(
            df, F.col("doc_id") % 10 == 0
        ).collect()
    }

    # ---- independent model ----
    def toks(t):
        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    def sig(items):  # items: (doc_id, payload)
        acc = 0
        for i, p in items:
            acc ^= int(
                hashlib.md5(f"{i}:{p}".encode()).hexdigest()[:15], 16
            )
        return acc

    def ntok(items):
        return sum(len(toks(p)) for _, p in items)

    def row(items):
        return (len(items), ntok(items), sig(items))

    s0 = sorted(docs.items())
    assert got["0_input"] == row(s0)
    s1 = [(i, t) for i, t in s0 if i % 10 != 0]
    assert got["1_eval_holdout"] == row(s1)
    # exact dedup: min id per normalized fingerprint
    fp = {}
    for i, t in s1:
        f = re.sub(r"\s+", " ", t.lower()).strip()
        fp.setdefault(f, i)
    s2 = [(i, t) for i, t in s1 if fp[re.sub(r"\s+", " ", t.lower()).strip()] == i]
    assert got["2_exact_dedup"] == row(s2)
    # near dedup: 3-shingle jaccard >= 0.5 drops the larger id
    sh = {i: {" ".join(toks(t)[j:j + 3])
              for j in range(len(toks(t)) - 2)} for i, t in s2}
    dropped = set()
    for i, _ in s2:
        for j, _ in s2:
            if i < j and sh[i] and sh[j]:
                jac = len(sh[i] & sh[j]) / len(sh[i] | sh[j])
                if jac >= 0.5:
                    dropped.add(j)
    s3 = [(i, t) for i, t in s2 if i not in dropped]
    assert got["3_near_dedup"] == row(s3)
    # paragraph dedup: 16-token spans, first (doc, idx) keeps
    first = {}
    for i, t in s3:
        tk = toks(t)
        for idx in range(-(-len(tk) // 16)):
            para = " ".join(tk[idx * 16:idx * 16 + 16])
            if para not in first:
                first[para] = (i, idx)
    s4 = []
    for i, t in s3:
        tk = toks(t)
        kept = [" ".join(tk[idx * 16:idx * 16 + 16])
                for idx in range(-(-len(tk) // 16))
                if first[" ".join(tk[idx * 16:idx * 16 + 16])] == (i, idx)]
        newt = " ".join(kept)
        if newt:
            s4.append((i, newt))
    assert got["4_para_dedup"] == row(s4)
    # decontaminate: 5-gram overlap with eval raw text
    ev_grams = set()
    for i, t in s0:
        if i % 10 == 0:
            tk = toks(t)
            ev_grams |= {" ".join(tk[j:j + 5])
                         for j in range(len(tk) - 4)}
    s5 = []
    for i, t in s4:
        tk = toks(t)
        grams = {" ".join(tk[j:j + 5]) for j in range(len(tk) - 4)}
        if not (grams & ev_grams):
            s5.append((i, t))
    assert got["5_decontaminate"] == row(s5)
    # quality gate (same IEEE expression)
    s6 = []
    for i, t in s5:
        tk = toks(t)
        nt = float(len(tk))
        div = len(set(tk)) / nt if nt > 0 else 0.0
        dr = sum(c.isdigit() for c in t) / len(t) if t else 0.0
        q = min(1.0, nt / 100.0) * 0.4 + div * 0.4 + (1.0 - dr) * 0.2
        if q >= 0.58:
            s6.append((i, t))
    assert got["6_quality_gate"] == row(s6)
    # temperature mix: single source -> epochs 1.0 -> rate 0.5
    def frac(i):
        return int(
            hashlib.md5(str(i).encode()).hexdigest()[:8], 16
        ) / 4294967296.0
    s7 = [(i, t) for i, t in s6 if frac(i) < 0.5]
    assert got["7_temperature_mix"] == row(s7)
    # pack: next-fit within shard = id % 32
    cum = Counter()
    bins = {}
    for i, t in sorted(s7):
        nt = len(toks(t))
        shard = i % 32
        bins[i] = cum[shard] // 2048
        cum[shard] += nt
    n_docs, n_toks, _ = row(s7)
    assert got["8_pack"] == (
        n_docs, n_toks, sig([(i, str(bins[i])) for i, _ in s7])
    )
    # the engineered drops actually happened, stage by stage
    assert got["1_eval_holdout"][0] == got["0_input"][0] - 1
    assert got["2_exact_dedup"][0] == got["1_eval_holdout"][0] - 1
    assert got["3_near_dedup"][0] == got["2_exact_dedup"][0] - 1
    assert got["4_para_dedup"][1] < got["3_near_dedup"][1]  # P cut once
    assert got["4_para_dedup"][0] == got["3_near_dedup"][0]
    assert got["5_decontaminate"][0] == got["4_para_dedup"][0] - 1
    # TWO quality drops, one of them a cross-stage interaction: doc 8
    # is the engineered digit-noise drop, and doc 6 — whose shared
    # 16-token paragraph stage 4 cut — is left with "tailsix X" * 8,
    # whose lexical diversity (9/16) no longer clears the gate. The
    # composite exposes interactions the per-stage entries can't.
    assert got["6_quality_gate"][0] == got["5_decontaminate"][0] - 2


def test_corpus_release_recall_margin_precondition(spark):
    """corpus_release stage 3 uses banded MinHash (21 bands x 3 rows)
    while its oracle computes exact all-pairs Jaccard; parity rests on
    the corpus-specific recall margin (miss prob (1-j^3)^21 is <3e-7
    at j=0.8 but ~6% at j=0.5). This measures the margin on the
    SHIPPED corpora at the correctness-harness SFs and fails loudly if
    a data change ever drops a qualifying pair near the threshold —
    see the PRECONDITION paragraph in corpus_release's docstring."""
    import os

    from pyspark.sql import Window as W

    from pyspark_scd_spark.functions import text as TXT
    from pyspark_scd_spark.operators import dedup

    checked = 0
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.exists(f"{sf_dir}/documents.parquet"):
            continue
        checked += 1
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # stage-3 input = stage-2 output: training pool (eval rows
        # out) after exact dedup, exactly as q_corpus_release builds
        pool = docs.filter(~(F.col("doc_id") % 10 == 0))
        fp = pool.withColumn("__fp", TXT.fingerprint("text"))
        s2 = fp.withColumn(
            "__cmin", F.min("doc_id").over(W.partitionBy("__fp"))
        ).filter(F.col("doc_id") == F.col("__cmin"))
        qualifying = dedup.ngram_jaccard_pairs(
            s2.select("doc_id", "text"), n=3, threshold=0.5
        ).agg(
            F.min("jaccard").alias("mn"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        assert qualifying["n"] > 0, (
            f"{sf_dir}: corpus must exercise stage 3 with real pairs"
        )
        assert qualifying["mn"] >= 0.8, (
            f"{sf_dir}: min qualifying jaccard {qualifying['mn']} is "
            "inside the MinHash band curve's miss region — "
            "corpus_release's oracle parity margin is invalidated"
        )
    # A vacuous pass (no corpora found at all) would defeat this
    # test's fail-loudly-on-data-change purpose.
    assert checked > 0, (
        "no testdata corpora found — recall-margin precondition "
        "was not actually checked"
    )
