"""Unigram-LM tokenizer (text/unigram.py): the Viterbi DP's three
implementations (pure Python, Spark expression fold, DuckDB recursive
CTE — the last via the oracle-parity gate) must agree bit-exactly,
and the tie rule is pinned here explicitly."""

from __future__ import annotations

from pyspark.sql import functions as F

from gpd_lite_toolbox_spark.text.unigram import (
    MAX_PIECE_LEN,
    UNIGRAM_PIECES,
    UNK_CHAR_COST,
    _segment_sql,
    _viterbi_cols,
    segment_pieces_py,
    segment_word_py,
    unigram_encode,
    unigram_fertility,
)


def test_reference_dp_hand_computed():
    # 'part' is a pinned 4-char piece at 150; char-by-char would be
    # 60+45+50+47 = 202, 'ar'+singles mixes land between — the whole
    # word wins.
    assert segment_word_py("part") == (150, 1)
    # 'zq' pinned at 99 beats two UNK chars (120).
    assert segment_word_py("zq") == (99, 1)
    # all-UNK word: n chars at UNK_CHAR_COST each.
    assert segment_word_py("xxx") == (3 * UNK_CHAR_COST, 3)
    # empty word: zero state.
    assert segment_word_py("") == (0, 0)


def test_tie_breaks_prefer_fewer_pieces():
    # 'ab' costs exactly a+b: equal total cost, the single piece wins.
    pieces = [("a", 5), ("b", 5), ("ab", 10)]
    assert segment_word_py("ab", pieces=pieces) == (10, 1)
    # strictly cheaper split still wins over a more expensive piece
    assert segment_word_py("ab", pieces=[("a", 4), ("b", 4), ("ab", 10)]) == (
        8,
        2,
    )


def test_spark_fold_matches_reference_dp(spark):
    words = [
        "a", "agg", "batch", "column", "customer", "query", "window",
        "zq", "extra", "stream", "xxxyyzz", "qqq", "aaaa", "tttt",
        "sortsort", "partpart", "linewind",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    fin = _viterbi_cols(
        "w", UNIGRAM_PIECES, UNK_CHAR_COST, MAX_PIECE_LEN
    )
    got = {
        r["w"]: (r["c"], r["np"])
        for r in df.select(
            "w", fin["c"].alias("c"), fin["np"].alias("np")
        ).collect()
    }
    for w in words:
        assert got[w] == segment_word_py(w), w


def test_fertility_report_hand_computed(spark):
    # two docs in one stratum: 'part part' (1 piece each) and
    # 'zq xxx' (1 + 3 pieces); null text contributes nothing.
    docs = spark.createDataFrame(
        [
            ("s1", "part part"),
            ("s1", "zq xxx"),
            ("s1", None),
        ],
        "source string, text string",
    )
    rows = unigram_fertility(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["source"] == "s1"
    assert r["n_words"] == 4
    assert r["n_pieces"] == 1 + 1 + 1 + 3
    assert r["total_cost"] == 150 + 150 + 99 + 3 * UNK_CHAR_COST
    assert abs(r["fertility"] - round(6 / 4, 6)) < 1e-12
    # chars: 4+4+2+3 = 13 over 6 pieces
    assert abs(r["avg_piece_chars"] - round(13 / 6, 6)) < 1e-12


def test_segmentation_reconstructs_and_matches_reference(spark):
    words = [
        "customer", "window", "extra", "part", "zq", "xxxyyzz",
        "aaaa", "linewind", "sortsort",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["ps"]
        for r in df.select(
            "w",
            F.expr(
                _segment_sql(
                    "w", UNIGRAM_PIECES, UNK_CHAR_COST, MAX_PIECE_LEN
                )
            ).alias("ps"),
        ).collect()
    }
    for w in words:
        assert "".join(got[w]) == w, w
        assert got[w] == segment_pieces_py(w), w
        assert len(got[w]) == segment_word_py(w)[1], w


def test_unigram_encode_stream(spark):
    docs = spark.createDataFrame(
        [(1, "part window zq"), (2, None), (3, "")],
        "id bigint, text string",
    )
    rows = unigram_encode(docs).orderBy("id", "pos").collect()
    assert [(r["id"], r["pos"], r["token"]) for r in rows] == [
        (1, 0, "part"), (1, 1, "wind"), (1, 2, "ow"), (1, 3, "zq"),
    ]
    # token ids are the rank of the piece in the sorted emitted vocab
    emitted = sorted({r["token"] for r in rows})
    for r in rows:
        assert r["token_id"] == emitted.index(r["token"])


def test_fertility_dp_is_vocab_bounded(spark):
    # the DP projection sits on the DISTINCT word table, not the
    # corpus: the plan must contain exactly one aggregate chain from
    # the exploded words and a broadcast join back (no corpus-sized
    # DP input).
    docs = spark.createDataFrame(
        [("s1", "part line sort part")], "source string, text string"
    )
    plan = unigram_fertility(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ------------------------------------------------------ properties
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_words = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=9),
    min_size=1,
    max_size=6,
    unique=True,
)
# random inventories over the same alphabet: every 1-4-gram is a
# potential piece with a small integer cost, so ties and UNK paths
# are both exercised
_pieces = st.dictionaries(
    st.text(alphabet="abcd", min_size=1, max_size=4),
    st.integers(min_value=5, max_value=40),
    min_size=0,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(_words, _pieces)
def test_dp_matches_reference_on_random_inventories(
    spark, words, pieces_map
):
    pieces = sorted(pieces_map.items())
    df = spark.createDataFrame([(w,) for w in words], "w string")
    fin = _viterbi_cols("w", pieces, 7, MAX_PIECE_LEN)
    got = {
        r["w"]: (r["c"], r["np"])
        for r in df.select(
            "w", fin["c"].alias("c"), fin["np"].alias("np")
        ).collect()
    }
    seg = {
        r["w"]: r["ps"]
        for r in df.select(
            "w",
            F.expr(
                _segment_sql("w", pieces, 7, MAX_PIECE_LEN)
            ).alias("ps"),
        ).collect()
    }
    costs = dict(pieces)
    for w in words:
        exp = segment_word_py(w, pieces=pieces, unk=7)
        assert got[w] == exp, (w, pieces)
        # the reconstructed pieces respell the word, have the DP's
        # piece count, and re-price to the DP's cost
        ps = seg[w]
        assert "".join(ps) == w, (w, ps, pieces)
        assert len(ps) == exp[1], (w, ps, pieces)
        assert sum(
            costs.get(p, 7) if len(p) == 1 else costs[p] for p in ps
        ) == exp[0], (w, ps, pieces)


def test_unigram_train_hand_computed(spark):
    from gpd_lite_toolbox_spark.text.unigram import unigram_train

    docs = spark.createDataFrame(
        [(1, "part part window window window zq"), (2, "sort sort sort")],
        "id bigint, text string",
    )
    inv = {
        r["piece"]: (r["cnt"], r["cost"])
        for r in unigram_train(docs, max_pieces=6, min_count=2).collect()
    }
    import math
    from collections import Counter

    words = "part part window window window zq sort sort sort".split()
    cnt: Counter = Counter()
    for w, n in Counter(words).items():
        for j in range(len(w)):
            for l in range(1, min(4, len(w) - j) + 1):
                cnt[w[j : j + l]] += n
    total = sum(cnt.values())
    singles = {p for p in cnt if len(p) == 1}
    multi = sorted(
        ((c, p) for p, c in cnt.items() if len(p) > 1 and c >= 2),
        key=lambda t: (-t[0], t[1]),
    )[:6]
    exp = {
        p: (cnt[p], round(100 * math.log(total / cnt[p]) + 1e-9))
        for p in singles | {p for _, p in multi}
    }
    assert inv == exp


def test_learned_inventory_feeds_the_dp(spark):
    # the bpe_train artifact pattern: collect the learned inventory
    # (bounded) and plug it into the fertility report — every single
    # char is in the inventory, so UNK never fires and fertility is
    # well-defined on the training corpus itself
    from gpd_lite_toolbox_spark.text.unigram import unigram_train

    docs = spark.createDataFrame(
        [("s1", "part part window window zq zq sort sort")],
        "source string, text string",
    )
    learned = [
        (r["piece"], int(r["cost"]))
        for r in unigram_train(docs).collect()
    ]
    rows = unigram_fertility(docs, pieces=learned).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_words"] == 8
    # multi-char pieces exist for every word, so the optimal
    # segmentation beats char-by-char: fewer than 1 piece per char
    assert 1.0 <= r["fertility"] < 4.0
    # cross-check against the python DP under the same inventory
    exp = sum(
        n * segment_word_py(w, pieces=learned)[1]
        for w, n in {"part": 2, "window": 2, "zq": 2, "sort": 2}.items()
    )
    assert r["n_pieces"] == exp


def test_segmentation_expr_is_streaming_legal(spark, tmp_path):
    # the DP is a stateless projection — it must plan on a streaming
    # frame (the shingle/signature-expr precedent), and a micro-batch
    # through the foreachBatch sink must segment exactly as batch
    d = str(tmp_path / "ug_stream")
    spark.createDataFrame(
        [(1, "part window"), (2, "zq xxx")], "id long, text string"
    ).write.mode("overwrite").parquet(d)
    seg = F.expr(
        _segment_sql("w", UNIGRAM_PIECES, UNK_CHAR_COST, MAX_PIECE_LEN)
    )
    stream = (
        spark.readStream.schema("id long, text string")
        .parquet(d)
        .select(
            "id",
            F.explode(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                    lambda w: w != "",
                )
            ).alias("w"),
        )
        .select("id", "w", seg.alias("ps"))
    )
    assert stream.isStreaming
    got: list = []
    q = stream.writeStream.foreachBatch(
        lambda df, _eid: got.extend(
            (r["id"], r["w"], tuple(r["ps"])) for r in df.collect()
        )
    ).start()
    q.processAllAvailable()
    q.stop()
    exp = sorted(
        (i, w, tuple(segment_pieces_py(w)))
        for i, text in ((1, "part window"), (2, "zq xxx"))
        for w in text.split()
    )
    assert sorted(got) == exp


def test_em_seed_inventory_cap_fails_loudly(spark, monkeypatch):
    """r10 VERDICT #5: unigram_train_em packs the piece inventory into
    ONE row; the seed pack is vocabulary-bounded, not constant-bounded,
    so the in-plan guard must abort loudly when the cap is exceeded
    instead of silently building a multi-GB row — and stay invisible
    when the bound holds."""
    import pytest

    from gpd_lite_toolbox_spark.text import unigram as U

    docs = spark.createDataFrame(
        [(1, "line part window line"), (2, "window part line")],
        "id bigint, text string",
    )
    # bound holds: the guard is a pass-through (same rows as ever)
    out = U.unigram_train_em(docs, n_rounds=1, max_pieces=8).collect()
    assert len(out) > 0
    # bound violated: the job fails with the sized message, not a
    # silent giant row
    monkeypatch.setattr(U, "SEED_INV_ROW_CAP", 3)
    with pytest.raises(Exception, match="SEED_INV_ROW_CAP"):
        U.unigram_train_em(docs, n_rounds=1, max_pieces=8).collect()


def test_em_seed_inventory_cap_refuses_before_the_pack(spark, monkeypatch):
    """The seed-inventory cap is checked BEFORE collect_list packs the
    inventory into one row: building the trainer's frame raises with
    no action on it, an inventory of exactly the cap passes, and one
    piece more is refused."""
    import pytest

    from gpd_lite_toolbox_spark.text import unigram as U

    docs = spark.createDataFrame(
        [(1, "line part window line"), (2, "window part line")],
        "id bigint, text string",
    )
    monkeypatch.setattr(U, "SEED_INV_ROW_CAP", 2)
    with pytest.raises(ValueError, match="SEED_INV_ROW_CAP=2"):
        U.unigram_train_em(docs, n_rounds=1, max_pieces=8)
    # the seed inventory of this corpus: every single character plus
    # the multi-char substrings seen at least min_count=2 times
    words = ["line", "part", "window", "line", "window", "part", "line"]
    subs: dict = {}
    for w in words:
        for j in range(len(w)):
            for n in range(1, min(U.MAX_PIECE_LEN, len(w) - j) + 1):
                subs[w[j:j + n]] = subs.get(w[j:j + n], 0) + 1
    size = sum(1 for p, c in subs.items() if len(p) == 1 or c >= 2)
    monkeypatch.setattr(U, "SEED_INV_ROW_CAP", size)
    assert len(U.unigram_train_em(docs, n_rounds=1, max_pieces=8).collect())
    monkeypatch.setattr(U, "SEED_INV_ROW_CAP", size - 1)
    with pytest.raises(ValueError, match="SEED_INV_ROW_CAP"):
        U.unigram_train_em(docs, n_rounds=1, max_pieces=8)
