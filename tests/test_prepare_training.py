"""prepare_training_data (operators/pipeline.py): the composed raw-
corpus → packed-training-sequences chain. Checks the contracts the
composition adds ON TOP of its already-tested stages: only kept docs
reach the sequence side, bins respect the token budget and never mix
splits, BPE mode re-budgets in model tokens, budget sampling gates the
chunk volume, and shard dealing deals whole bins ±1.
"""

import re

import pytest
from pyspark.sql import functions as F

from picovdb_spark.operators.ordering import release_global_rank
from picovdb_spark.operators.pipeline import curate_corpus, prepare_training_data


def _natural(seed_word: str, n: int = 60) -> str:
    words = []
    for i in range(n):
        words.append(f"{seed_word}{i}")
        if i % 3 == 0:
            words.append("the")
        if i % 5 == 0:
            words.append("of")
    return " ".join(words)


@pytest.fixture(scope="module")
def corpus(spark):
    base = _natural("alpha")
    rows = [
        (1, base, "en"),                       # clean
        (2, base, "en"),                       # exact dup of 1 → dropped
        (3, "tiny tiny tiny", "en"),           # low quality → dropped
        (4, _natural("bravo", 120), "en"),     # clean, long
        (5, _natural("charlie"), "de"),        # clean
        (6, ("spam " * 200).strip(), "de"),    # repetitive → dropped
        (7, _natural("delta", 90), "de"),      # clean
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string, lang string")


def test_prepare_basic_contract(spark, corpus):
    seqs, curated = prepare_training_data(
        corpus, chunk_tokens=32, overlap=0, max_tokens=64
    )
    cur = {r["doc_id"]: r for r in curated.collect()}
    assert len(cur) == 7, "audit spine keeps every input doc"
    kept_ids = {i for i, r in cur.items() if r["keep"]}
    assert kept_ids == {1, 4, 5, 7}
    # curated carries the text the gates saw
    assert cur[1]["text_clean"].startswith("alpha0 the of")

    rows = seqs.collect()
    assert {r["doc_id"] for r in rows} == kept_ids, "only kept docs get sequences"
    # every kept doc's tokens are covered by its chunks (overlap=0 → exact)
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], 0)
        per_doc[r["doc_id"]] += r["n_tokens"]
    for i in kept_ids:
        assert per_doc[i] == cur[i]["n_tokens"], f"doc {i} chunk coverage"
    # greedy budget: no bin over max_tokens (no single chunk exceeds 32 here)
    bins = {}
    for r in rows:
        key = (r["split"], r["pack_group"], r["bin_idx"])
        bins.setdefault(key, [0, set()])
        bins[key][0] += r["n_tokens"]
        bins[key][1].add(r["split"])
    for key, (tot, splits) in bins.items():
        assert tot <= 64, f"bin {key} over budget: {tot}"
        assert len(splits) == 1, f"bin {key} mixes splits"
    # chunk text rides along and reassembles the doc
    d4 = sorted(
        (r["chunk_idx"], r["chunk_text"]) for r in rows if r["doc_id"] == 4
    )
    joined = " ".join(t for _, t in d4)
    assert joined == cur[4]["text_clean"]


def test_prepare_is_deterministic(spark, corpus):
    a, _ = prepare_training_data(corpus, chunk_tokens=32, max_tokens=64)
    b, _ = prepare_training_data(corpus, chunk_tokens=32, max_tokens=64)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_prepare_bpe_mode_budgets_in_model_tokens(spark, corpus):
    from picovdb_spark.operators.tokenizer import bpe_train

    merges = bpe_train(corpus, num_merges=30)
    seqs, curated = prepare_training_data(
        corpus, merges=merges, chunk_tokens=16, max_tokens=48
    )
    rows = seqs.collect()
    kept = {r["doc_id"] for r in curated.collect() if r["keep"]}
    assert {r["doc_id"] for r in rows} == kept
    # n_tokens is the BPE count of the chunk text (chunk_text holds BPE
    # symbols space-joined), and every full window is exactly 16 symbols
    for r in rows:
        assert r["n_tokens"] == len(r["chunk_text"].split())
        assert r["n_tokens"] <= 16
    # budget respected in BPE tokens
    bins = {}
    for r in rows:
        key = (r["split"], r["pack_group"], r["bin_idx"])
        bins[key] = bins.get(key, 0) + r["n_tokens"]
    assert all(v <= 48 for v in bins.values())


def test_prepare_token_budget_sampling_caps_domains(spark, corpus):
    # en kept docs: 1 (~100 tok), 4 (~195); de kept: 5 (~100), 7 (~147).
    # a 10-token en budget keeps exactly one en doc (prefix-until-reached)
    seqs, curated = prepare_training_data(
        corpus,
        token_budgets={"en": 10, "de": 1_000_000},
        chunk_tokens=32,
        max_tokens=64,
    )
    kept_docs = {r["doc_id"] for r in seqs.select("doc_id").distinct().collect()}
    en_kept = kept_docs & {1, 4}
    assert len(en_kept) == 1, "10-token budget keeps exactly the first en doc in hash order"
    assert kept_docs & {5, 7} == {5, 7}, "uncapped domain keeps everything"


def test_prepare_shard_dealing_deals_whole_bins(spark, corpus):
    seqs, _ = prepare_training_data(
        corpus, chunk_tokens=8, max_tokens=16, n_shards=3
    )
    rows = seqs.collect()
    release_global_rank(seqs)
    by_bin = {}
    for r in rows:
        key = (r["split"], r["pack_group"], r["bin_idx"])
        by_bin.setdefault(key, set()).add(r["shard"])
    for key, shards in by_bin.items():
        assert len(shards) == 1, f"bin {key} torn across shards"
    per_shard = {}
    for key, shards in by_bin.items():
        s = next(iter(shards))
        per_shard[s] = per_shard.get(s, 0) + 1
    assert max(per_shard.values()) - min(per_shard.values()) <= 1
    assert set(per_shard) <= {0, 1, 2}


def test_pack_group_cols_split_purity_and_payload(spark):
    from picovdb_spark.operators.textops import pack_sequences

    rows = [(f"d{i}", 0, 10, "train" if i % 2 else "val", f"txt{i}") for i in range(40)]
    chunks = spark.createDataFrame(
        rows, schema="doc_id string, chunk_idx int, n_tokens int, split string, chunk_text string"
    )
    packed = pack_sequences(
        chunks,
        max_tokens=25,
        group_cols=("split",),
        payload_cols=("chunk_text",),
    )
    out = packed.collect()
    assert len(out) == 40
    assert set(packed.columns) == {
        "split", "doc_id", "chunk_idx", "n_tokens", "chunk_text", "pack_group", "bin_idx"
    }
    seen = {}
    for r in out:
        seen.setdefault((r["split"], r["pack_group"], r["bin_idx"]), 0)
        seen[(r["split"], r["pack_group"], r["bin_idx"])] += r["n_tokens"]
        assert r["chunk_text"] == "txt" + r["doc_id"][1:], "payload rides along"
    assert all(v <= 25 for v in seen.values())


def test_chunk_tokens_col_and_carry(spark):
    from picovdb_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [("a", ["x1", "x2", "x3", "x4", "x5"], "train")],
        schema="doc_id string, bpe_tokens array<string>, split string",
    )
    out = chunk_documents(
        df, tokens_col="bpe_tokens", carry_cols=("split",), chunk_tokens=2, overlap=0
    ).collect()
    got = sorted((r["chunk_idx"], r["chunk_text"], r["n_tokens"], r["split"]) for r in out)
    assert got == [
        (0, "x1 x2", 2, "train"),
        (1, "x3 x4", 2, "train"),
        (2, "x5", 1, "train"),
    ]


def test_chunk_as_tokens_round_trips_space_bearing_vocab(spark):
    """as_tokens=True is the lossless mode: a vocab with space-bearing
    and empty-string tokens (legal BPE merges) comes back as the exact
    token slices — the space-joined chunk_text rendering could never
    recover them (splitting 'a b' on ' ' splits one token into two)."""
    from picovdb_spark.operators.chunking import chunk_documents

    toks = ["a b", "", "c", " d", "e"]
    df = spark.createDataFrame(
        [("doc", toks)], schema="doc_id string, bpe_tokens array<string>"
    )
    out = chunk_documents(
        df, tokens_col="bpe_tokens", chunk_tokens=3, overlap=1, as_tokens=True
    ).collect()
    got = sorted((r["chunk_idx"], tuple(r["chunk_toks"]), r["n_tokens"]) for r in out)
    # stride 2: windows [0:3], [2:5]
    assert got == [
        (0, ("a b", "", "c"), 3),
        (1, ("c", " d", "e"), 3),
    ]
    assert all("chunk_text" not in r.asDict() for r in out)
    # reassembling the strided slices reproduces the source exactly
    stride = 2
    rebuilt = []
    for idx, chunk, _ in got:
        start = idx * stride
        rebuilt[start : start + len(chunk)] = chunk
    assert rebuilt == toks


def test_curate_return_text_matches_span_rewrite(spark):
    # two docs sharing one paragraph: the loser's text_clean drops it;
    # a full-husk doc comes back with "" and drop_reason span_empty
    shared = _natural("shared", 40)
    rows = [
        (1, shared + " | " + _natural("own", 40)),
        (2, shared),                       # every span seen earlier → husk
        (3, _natural("solo", 40)),
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    cur = {r["doc_id"]: r for r in curate_corpus(
        docs, paragraph_sep=" | ", return_text=True, quality_min=0.0
    ).collect()}
    assert cur[1]["text_clean"] == shared + " | " + _natural("own", 40)
    assert cur[2]["text_clean"] == ""
    assert cur[2]["drop_reason"] == "span_empty"
    assert cur[3]["text_clean"] == _natural("solo", 40)


def _near_dup_family(seed_word: str, k: int = 8):
    """k docs per family: a base doc + a 3-word-suffix variant, so every
    family forms one near-dup pair at jaccard 0.5."""
    out = []
    for f in range(k):
        base = _natural(f"{seed_word}{f}", 50)
        out.append(base)
        out.append(base + " extra trailing words")
    return out


def test_prepare_leakage_report_and_component_split(spark):
    """leakage_report=True surfaces every near-dup pair straddling
    splits under the default id-hash split (planted families make that
    non-empty deterministically), and split_by_component=True makes the
    SAME report empty by construction — the cluster is hashed as a
    unit. The report rides the curate pass's checkpointed pair list
    (leakage_from_pairs contract): no extra LSH sweep."""
    texts = _near_dup_family("fam", 8)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    weights = {"train": 0.5, "val": 0.25, "test": 0.25}

    seqs, curated, leakage = prepare_training_data(
        docs, weights=weights, chunk_tokens=32, max_tokens=64, leakage_report=True
    )
    leaks = leakage.collect()
    # deterministic md5 split: with 8 two-doc families under 0.5/0.25/0.25
    # at least one pair straddles (pinned by running the fixed hash)
    assert len(leaks) > 0, "planted near-dup families must straddle id-hash splits"
    assert {c for c in ("id_a", "id_b", "split_a", "split_b", "jaccard")} <= set(
        leakage.columns
    )
    for r in leaks:
        assert r["split_a"] != r["split_b"]

    # the leaked pairs are a subset of the curate pass's own pair list
    pair_set = {
        (r["id_a"], r["id_b"]) for r in curated._near_dup_pairs.collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in leaks} <= pair_set

    seqs2, curated2, leakage2 = prepare_training_data(
        docs,
        weights=weights,
        chunk_tokens=32,
        max_tokens=64,
        leakage_report=True,
        split_by_component=True,
    )
    assert leakage2.count() == 0, "component-grouped split must not leak"
    # both members of each family share a split in the audit spine
    sp = {r["doc_id"]: r["split"] for r in curated2.collect()}
    for a, b in pair_set:
        assert sp[a] == sp[b]


def test_prepare_curated_plan_runs_no_curate_kernel_again(spark, corpus):
    """`curated` is read by the sequence side and by the caller, so it is
    checkpointed: its plan holds no Python kernel node for a second
    action to re-run, while the plain curate_corpus plan over the same
    corpus does."""
    kernel = re.compile(
        r"ArrowEvalPython|BatchEvalPython|MapIn(Pandas|Arrow)|FlatMap\w*In(Pandas|Arrow)"
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert kernel.search(plan(curate_corpus(corpus)))
    _, curated = prepare_training_data(corpus, chunk_tokens=32, max_tokens=64)
    assert not kernel.search(plan(curated)), plan(curated)
    assert curated.filter("keep").count() == 4
