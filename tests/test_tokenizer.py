"""BPE-style tokenizing: phrase_merges corpus merge training (word
level) and the bpe_token_count pretokenizer column."""


class TestPhraseMerges:
    def test_learns_and_applies_top_pairs(self, spark):
        from lexoid_spark.functions.tokenizer import phrase_merges

        rows = [
            (0, "new york is a big city"),
            (1, "i love new york and new jersey"),
            (2, "york new is reversed new york here"),
            (3, ""),
            (4, "solo"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        out = phrase_merges(df, "id", "text", n_merges=2)
        res = {r["id"]: r for r in out.collect()}
        # most frequent adjacent pair corpus-wide is (new, york) x3
        assert out.merges[0] == ("new", "york", 3)
        assert res[0]["text_merged"].startswith("new_york is")
        assert res[1]["text_merged"] == "i love new_york and new jersey"
        # order matters: "york new" is NOT the learned pair
        assert res[2]["text_merged"] == \
            "york new is reversed new_york here"
        # second merge is the deterministic (count, a, b) tie-break
        assert out.merges[1][2] == 1
        # degenerate docs survive
        assert res[3]["text_merged"] == "" and res[3]["n_tokens_out"] == 0
        assert res[4]["text_merged"] == "solo"

    def test_greedy_nonoverlap(self, spark):
        from lexoid_spark.functions.tokenizer import phrase_merges

        # a b a b: marks at 1 and 3 don't overlap -> both merge
        df = spark.createDataFrame(
            [(0, "a b a b"), (1, "a b a b")], "id long, text string")
        out = phrase_merges(df, "id", "text", n_merges=1)
        r = out.collect()[0]
        assert r["text_merged"] == "a_b a_b"
        assert r["n_tokens_in"] == 4 and r["n_tokens_out"] == 2

    def test_self_pairs_merge_greedily(self, spark):
        """Round-4 upgrade: self pairs are full citizens. 'x x'
        dominates by count and wins; runs pair NON-OVERLAPPING left to
        right exactly like a sequential BPE scan (the F.aggregate fold
        — the round-3 relational mark had to exclude this case)."""
        from lexoid_spark.functions.tokenizer import phrase_merges

        df = spark.createDataFrame(
            [(0, "x x x x x a b"), (1, "a b")], "id long, text string")
        out = phrase_merges(df, "id", "text", n_merges=1)
        assert out.merges[0][:2] == ("x", "x")
        got = {r["id"]: r["text_merged"] for r in out.collect()}
        # run of 5: two merges + one leftover, greedy from the left
        assert got[0] == "x_x x_x x a b"
        assert got[1] == "a b"

    def test_self_pair_run_parities(self, spark):
        from lexoid_spark.functions.tokenizer import phrase_merges

        rows = [(0, "x x x x y"), (1, "x x x y y x x"),
                (2, "x x x x x x")]
        df = spark.createDataFrame(rows, "id long, text string")
        out = phrase_merges(df, "id", "text", n_merges=1)
        assert out.merges[0][:2] == ("x", "x")
        got = {r["id"]: r["text_merged"] for r in out.collect()}
        assert got[0] == "x_x x_x y"
        assert got[1] == "x_x x y y x_x"
        assert got[2] == "x_x x_x x_x"

    def test_checkpoint_bounds_lineage(self, spark):
        """Lineage truncation: the live plan never holds more than
        checkpoint_every rewrite layers, whatever n_merges is — the
        30k-merge BPE shape. Results must be bit-identical with and
        without truncation."""
        from lexoid_spark.functions.tokenizer import phrase_merges

        rows = [(i, "a b c d a b c a b a e f g e f e") for i in range(6)]
        rows += [(6, "h i j h i h"), (7, "")]
        df = spark.createDataFrame(rows, "id long, text string")

        ck = phrase_merges(df, "id", "text", n_merges=6,
                           checkpoint_every=2)
        raw = phrase_merges(df, "id", "text", n_merges=6,
                            checkpoint_every=0)
        assert ck.merges == raw.merges
        assert sorted(map(tuple, ck.collect())) == \
            sorted(map(tuple, raw.collect()))

        # plan-size pin: without truncation 6 rewrite layers stack up;
        # with it the live plan starts from a checkpointed scan and the
        # analyzed tree is a fraction of the size
        def plan_len(out):
            return len(out._jdf.queryExecution().analyzed().toString())

        assert plan_len(ck) * 2 < plan_len(raw)

    def test_plan_pair_row_broadcast(self, spark):
        from lexoid_spark.functions.tokenizer import phrase_merges

        df = spark.createDataFrame(
            [(i, "p q r") for i in range(10)], "id long, text string")
        out = phrase_merges(df, "id", "text", n_merges=1)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        # the learned pair is a scalar-string literal fused into the
        # rewrite projection (value-independent generated code): no
        # join against the corpus at all, so no cartesian to guard
        assert "CartesianProduct" not in plan
        assert "Join" not in plan
        assert "regexp_replace" in plan


class TestPhraseMergesSampled:
    """sample_mod >= 2: merges are learned from the deterministic
    md5-hash subsample only, then applied to the FULL corpus in one
    fused regex chain."""

    def test_merges_reflect_sample_statistics_only(self, spark):
        from lexoid_spark.functions.tokenizer import phrase_merges

        # md5-prefix hash % 3 == 0 for ids {0,2,3,4,9,10}
        rows = [(i, "x y filler%d" % i) for i in (0, 2, 3, 4)]
        rows += [(i, "p q p q p q") for i in (1, 5, 6, 7, 8)]
        rows += [(11, "x y tail")]   # NOT in the sample
        df = spark.createDataFrame(rows, "id long, text string")
        out = phrase_merges(df, "id", "text", n_merges=1, sample_mod=3)
        got = {r["id"]: r["text_merged"] for r in out.collect()}
        # (p,q) dominates the corpus but is invisible to the sample
        assert out.merges == [("x", "y", 4)]
        # ...and the full corpus is rewritten, sample or not
        assert got[11] == "x_y tail"
        assert got[0].startswith("x_y")
        assert got[1] == "p q p q p q"   # no (p,q) merge learned

    def test_fused_chain_composes_dependent_merges(self, spark):
        from lexoid_spark.functions.tokenizer import phrase_merges

        rows = [(0, "a b c"), (2, "a b c"),          # sampled
                (1, "z a b c")]                       # not sampled
        df = spark.createDataFrame(rows, "id long, text string")
        out = phrase_merges(df, "id", "text", n_merges=2, sample_mod=3)
        got = {r["id"]: r["text_merged"] for r in out.collect()}
        assert [m[:2] for m in out.merges] == [("a", "b"), ("a_b", "c")]
        assert got[0] == "a_b_c"
        assert got[1] == "z a_b_c"   # stage-2 merge applied on top of 1


def test_bpe_token_count_column(spark):
    from pyspark.sql import functions as F

    from lexoid_spark.functions.textstats import bpe_token_count

    df = spark.createDataFrame(
        [("Hello, world 42!",), ("",), ("one-two",)], "t string")
    got = [r["n"] for r in
           df.select(bpe_token_count(F.col("t")).alias("n")).collect()]
    # "Hello" "," " world" " 42" "!" → 5 ; "" → 0 ; "one" "-" "two" → 3
    assert got == [5, 0, 3]
