"""Operator-level unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from log_analysis_bigdata_spark.catalog import load_table

from .conftest import SF_SMOKE, _jobs_run

def test_salted_join_equals_plain_join(spark):
    from log_analysis_bigdata_spark.operators.skew import salted_join

    big = load_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey")
    small = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = big.join(small, "o_custkey")
    salted = salted_join(big, small, "o_custkey", salt_buckets=4)
    assert salted.count() == plain.count()
    assert sorted(salted.columns) == sorted(plain.columns)
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_uniform_sample_seeded(spark):
    """M2: df.sample(fraction, seed) — deterministic for a fixed seed and
    partition layout, fraction approximately honored."""
    orders = load_table(spark, SF_SMOKE, "orders")
    n = orders.count()
    s1 = orders.sample(False, 0.3, seed=42)
    s2 = orders.sample(False, 0.3, seed=42)
    c1 = s1.count()
    assert c1 == s2.count()  # same seed → same rows
    assert 0.15 * n < c1 < 0.45 * n
    assert s1.exceptAll(s2).count() == 0


def test_random_single_row_pick_seeded(spark):
    """M3: orderBy(rand(seed)).limit(1) — the stream sampler's random
    session pick (stream_data.py:39-44), deterministic under a seed."""
    orders = load_table(spark, SF_SMOKE, "orders")
    r1 = orders.orderBy(F.rand(7)).limit(1).collect()
    r2 = orders.orderBy(F.rand(7)).limit(1).collect()
    assert len(r1) == 1 and r1 == r2


def test_approx_distinct_within_tolerance(spark):
    from log_analysis_bigdata_spark.queries.relational import (
        approx_distinct_users,
    )

    rows = approx_distinct_users(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["within_tol"] == 1
        assert r["exact_users"] > 0


def test_parser_total_on_arbitrary_input(spark):
    """Property: parse_log_lines is total — arbitrary garbage never
    crashes, never drops rows, and yields nulls (not junk) for
    unmatched fields."""
    from hypothesis import given, settings, strategies as st

    from log_analysis_bigdata_spark.functions.logparse import parse_log_lines

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), max_codepoint=0x2FF
                ),
                max_size=120,
            ),
            min_size=1,
            max_size=30,
        )
    )
    def run(lines):
        df = spark.createDataFrame([(l,) for l in lines], ["value"])
        out = parse_log_lines(df).collect()
        assert len(out) == len(lines)
        for r in out:
            # pid either parses as an int or is null — never garbage
            assert r["pid"] is None or isinstance(r["pid"], int)
            assert r["level"] in (None, "INFO", "WARN", "ERROR", "FATAL", "DEBUG") or r["level"]

    run()


def test_asof_join_semantics(spark):
    from log_analysis_bigdata_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 10, "e1"), ("a", 20, "e2"), ("a", 5, "e0"), ("b", 50, "e3")],
        ["k", "t", "ev"],
    )
    right = spark.createDataFrame(
        [("a", 10, "r10"), ("a", 15, "r15"), ("b", 60, "r60")],
        ["k", "rt", "v"],
    )
    out = {
        r["ev"]: r["v"]
        for r in asof_join(left, right, "k", "t", "rt", ["v"]).collect()
    }
    assert out["e1"] == "r10"   # inclusive: rt == t matches
    assert out["e2"] == "r15"   # latest rt <= 20
    assert out["e0"] is None    # nothing at or before t=5
    assert out["e3"] is None    # b's only right row is later (60 > 50)


def test_asof_join_tie_deterministic_and_null_preserving(spark):
    from log_analysis_bigdata_spark.operators.asof import asof_join

    # Two right rows share (key, ts): the winner must be the same every
    # run (greatest payload struct), not whichever partition sorts last.
    left = spark.createDataFrame([("a", 10, "e1")], ["k", "t", "ev"])
    right = spark.createDataFrame(
        [("a", 10, "rA", 1), ("a", 10, "rB", 2)], ["k", "rt", "v", "w"]
    )
    for _ in range(3):
        rows = asof_join(left, right, "k", "t", "rt", ["v", "w"]).collect()
        assert (rows[0]["v"], rows[0]["w"]) == ("rB", 2)

    # A legitimately-NULL field in the LATEST match must be carried as
    # NULL — not skipped in favor of a staler non-null value
    # (merge_asof semantics).
    right2 = spark.createDataFrame(
        [("a", 5, "old", 7), ("a", 9, None, None)], ["k", "rt", "v", "w"]
    )
    row = asof_join(left, right2, "k", "t", "rt", ["v", "w"]).collect()[0]
    assert row["v"] is None and row["w"] is None


def test_bucketed_interval_join_matches_naive(spark):
    from log_analysis_bigdata_spark.operators.rangejoin import (
        bucketed_interval_join,
    )

    iv = spark.createDataFrame(
        [("w1", "2024-01-01 00:30:00", "2024-01-01 02:30:00"),
         ("w2", "2024-01-05 00:00:00", "2024-01-05 01:00:00")],
        ["w", "lo", "hi"],
    ).select("w", F.to_timestamp("lo").alias("lo"), F.to_timestamp("hi").alias("hi"))
    pts = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00"),   # == lo → included
         (2, "2024-01-01 02:29:59"),   # just inside
         (3, "2024-01-01 02:30:00"),   # == hi → excluded
         (4, "2024-01-03 12:00:00")],  # matches nothing
        ["pid", "t"],
    ).select("pid", F.to_timestamp("t").alias("t"))

    got = {
        (r["w"], r["pid"])
        for r in bucketed_interval_join(iv, pts, "lo", "hi", "t", 3600).collect()
    }
    assert got == {("w1", 1), ("w1", 2)}

    left = bucketed_interval_join(iv, pts, "lo", "hi", "t", 3600, how="left")
    rows = left.groupBy("w").agg(F.count("pid").alias("n")).collect()
    assert {r["w"]: r["n"] for r in rows} == {"w1": 2, "w2": 0}


def test_connected_components_chain_and_islands(spark):
    from log_analysis_bigdata_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_raises_without_fixpoint(spark, monkeypatch):
    """The distributed loop fails loudly when its round budget runs out
    before the labels settle, rather than returning wrong labels."""
    import pytest

    from log_analysis_bigdata_spark.operators import components as C

    monkeypatch.setattr(C, "MAX_ROUNDS", 1)
    monkeypatch.setattr(C, "LOCAL_SOLVE_MAX_EDGES", -1)  # distributed
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        C.connected_components(chain)


def test_loop_parallelism_narrows_and_restores(spark):
    """loop_parallelism narrows spark.sql.shuffle.partitions to
    min(default, n_rows // ROWS_PER_PARTITION + 1) inside the block and
    restores the session default on normal exit and on an exception."""
    import pytest

    from log_analysis_bigdata_spark.operators.components import (
        ROWS_PER_PARTITION,
        loop_parallelism,
    )

    key = "spark.sql.shuffle.partitions"
    default = spark.conf.get(key)
    assert int(default) > 3
    with loop_parallelism(spark, 2 * ROWS_PER_PARTITION + 5) as prev:
        assert prev == default
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == default
    with loop_parallelism(spark, 10**6 * ROWS_PER_PARTITION):
        assert spark.conf.get(key) == default  # never above the default
    with pytest.raises(ValueError):
        with loop_parallelism(spark, 0):
            assert spark.conf.get(key) == "1"
            raise ValueError("loop failed")
    assert spark.conf.get(key) == default


def test_loop_parallelism_yields_to_active_stream(spark, tmp_path):
    """With a streaming query active, loop_parallelism leaves the conf
    alone, and guard_parallelism restores the default that a stream
    started inside a narrowed loop would otherwise compile with."""
    from log_analysis_bigdata_spark.operators.components import (
        guard_parallelism,
        loop_parallelism,
    )

    key = "spark.sql.shuffle.partitions"
    default = spark.conf.get(key)
    with loop_parallelism(spark, 0) as prev:
        assert spark.conf.get(key) == "1"
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            guard_parallelism(spark, prev)
            assert spark.conf.get(key) == default
            with loop_parallelism(spark, 0) as inner:
                assert inner == default
                assert spark.conf.get(key) == default
        finally:
            q.stop()
    assert spark.conf.get(key) == default


def test_observed_ingest_health_batch(spark):
    """Dataset.observe: health metrics ride the SAME job as the query —
    no second scan — and report exact counts. Runs in an isolated
    newSession(): a registered Observation poisons LATER pyspark.ml fits
    on the same session (Spark 4.1 ObservationManager serialization bug,
    documented in operators/monitor.py) — without isolation this test
    made the downstream ml_lr_train_confusion parity test fail."""
    from log_analysis_bigdata_spark.catalog import load_table
    from log_analysis_bigdata_spark.operators.monitor import (
        ingest_health_metrics,
        observed,
    )

    ev = load_table(spark.newSession(), "/root/testdata/sf0.001", "events")
    df, obs = observed(
        ev, "ingest_health",
        *ingest_health_metrics(["user_id", "ts"], value_col="value"),
    )
    # downstream work proceeds as usual; the action drives the metrics
    n_clicks = df.filter(F.col("event_type") == "click").count()
    got = obs.get
    assert got["n_rows"] == ev.count()
    assert got["n_null_user_id"] == 0 and got["n_null_ts"] == 0
    assert got["min_value"] <= got["max_value"]
    assert n_clicks > 0


def test_ingest_health_empty_input_reports_zero_nulls(spark):
    """sum over zero rows is NULL; the metric set coalesces to 0 so an
    empty micro-batch can't turn a n_null == 0 gate into NULL
    (ADVICE r5)."""
    from log_analysis_bigdata_spark.operators.monitor import (
        ingest_health_metrics,
    )

    empty = spark.range(0).select(F.col("id").alias("user_id"))
    row = empty.agg(*ingest_health_metrics(["user_id"])).collect()[0]
    assert row["n_rows"] == 0
    assert row["n_null_user_id"] == 0  # NULL would fail this ==


def test_observed_metrics_streaming_progress(spark, tmp_path):
    """The same observe call on a STREAM surfaces per-micro-batch in
    StreamingQueryProgress.observedMetrics — one metric definition for
    both engines."""
    import json as _json
    import os as _os

    from log_analysis_bigdata_spark.operators.monitor import (
        ingest_health_metrics,
        observed,
    )

    src = str(tmp_path / "obs_src")
    _os.makedirs(src)
    with open(_os.path.join(src, "b0.json"), "w") as f:
        for i in range(5):
            f.write(_json.dumps({"k": i, "v": float(i)}) + "\n")

    raw = spark.readStream.schema("k long, v double").json(src)
    df, _obs = observed(
        raw, "stream_health", *ingest_health_metrics(["k"], value_col="v")
    )
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName("obs_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = [p for p in q.recentProgress if p["observedMetrics"]]
    assert progress, "no observed metrics in stream progress"
    m = progress[-1]["observedMetrics"]["stream_health"]
    assert m["n_rows"] == 5 and m["n_null_k"] == 0
    assert m["max_v"] == 4.0


def test_bpe_merge_replace_is_greedy_left_to_right(spark):
    """The both-sides delimiter replace used by bpe_train_merges must
    equal greedy BPE merge order: overlap ([a,a,a,a] with (a,a) ->
    [aa,aa]; [a,a,a] -> [aa,a]), no left false-match ([xa,a]), and —
    the round-7b review case — no RIGHT-prefix false-match: merge
    (a,t) must not consume the pair (a,th)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("|a||a||a||a|", "|a||a|", "|aa|"),
            ("|a||a||a|", "|a||a|", "|aa|"),
            ("|xa||a|", "|a||a|", "|aa|"),
            ("|m||a||th|", "|a||t|", "|at|"),  # right-prefix guard
            ("|m||a||t|", "|a||t|", "|at|"),   # the true pair DOES merge
        ],
        ["seq", "pat", "rep"],
    )
    out = [
        r["m"]
        for r in df.select(
            F.replace(F.col("seq"), F.col("pat"), F.col("rep")).alias("m")
        ).collect()
    ]
    assert out == [
        "|aa||aa|",
        "|aa||a|",
        "|xa||a|",
        "|m||a||th|",
        "|m||at|",
    ]


def test_simhash_cand_pairs_width_independent(spark):
    """The adaptive band width may change COST only: _near_cand_pairs
    must return the identical verified pair set at every ladder width
    (this is the property that lets the oracle keep a static max-width
    split while the engine adapts)."""
    from pyspark.sql import functions as F

    from log_analysis_bigdata_spark.queries.textq import (
        NEAR_MAX_BAND_BITS,
        NEAR_MIN_BAND_BITS,
        _near_cand_pairs,
        _near_sig_spark,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),    # near 1
        (4, "one two three four five six seven"),
        (5, "totally different words here entirely"),
    ]
    sig = _near_sig_spark(
        spark.createDataFrame(docs, ["doc_id", "text"])
    ).localCheckpoint(eager=True)
    want = None
    for bits in (NEAR_MIN_BAND_BITS, 11, NEAR_MAX_BAND_BITS):
        got = sorted(
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in _near_cand_pairs(sig, 3, band_bits=bits).collect()
        )
        if want is None:
            want = got
            assert (1, 2, 0) in got  # the exact dup is always found
        else:
            assert got == want, f"width {bits} changed the result set"


def test_simhash_builders_run_no_job_beyond_checkpoints(spark):
    """Building simhash_near_pairs runs its signature checkpoint's jobs
    and nothing else; building simhash_near_components runs its two
    checkpoints' jobs plus the components solve's. The row counts the
    band widths need ride those checkpoint jobs as Observations — a
    separate count() is one more job per build."""
    from log_analysis_bigdata_spark.operators.components import (
        connected_components,
    )
    from log_analysis_bigdata_spark.queries.textq import (
        _dup_corpus_spark,
        _near_cand_pairs,
        _near_sig_spark,
        near_band_bits,
        simhash_near_components,
        simhash_near_pairs,
    )

    sig_jobs, sig = _jobs_run(
        spark,
        "simhash-sig",
        lambda: _near_sig_spark(
            _dup_corpus_spark(spark, SF_SMOKE)
        ).localCheckpoint(eager=True),
    )
    pairs_jobs, _ = _jobs_run(
        spark, "simhash-pairs", lambda: simhash_near_pairs(spark, SF_SMOKE)
    )
    assert pairs_jobs == sig_jobs

    group_jobs, groups = _jobs_run(
        spark,
        "simhash-groups",
        lambda: sig.groupBy("simhash")
        .agg(F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True),
    )
    rep_edges = _near_cand_pairs(
        groups.select(F.col("rep").alias("doc_id"), "simhash"),
        1,
        band_bits=near_band_bits(groups.count()),
    ).select("doc_a", "doc_b")
    solve_jobs, _ = _jobs_run(
        spark,
        "simhash-solve",
        lambda: connected_components(
            rep_edges, src="doc_a", dst="doc_b", distinct_pairs=True
        ),
    )
    components_jobs, _ = _jobs_run(
        spark,
        "simhash-components",
        lambda: simhash_near_components(spark, SF_SMOKE),
    )
    assert components_jobs == sig_jobs + group_jobs + solve_jobs


def test_dedup_survivors_prefer_quality_over_min_id(spark):
    """The survivor-policy corpus plants each 10th doc twice: degraded
    (space-bloated) copy on the LOW doc_id, clean copy at +_SURV_SHIFT
    (10^12). A min-doc_id canonical would keep every degraded copy; the
    quality policy must keep the shifted clean member — assert the two policies
    actually DIVERGE on every planted cluster (otherwise the test
    would pass vacuously on a min-id implementation)."""
    from log_analysis_bigdata_spark.queries.corpusq import (
        _SURV_SHIFT,
        dedup_survivors_by_quality,
    )

    rows = dedup_survivors_by_quality(spark, SF_SMOKE).collect()
    planted = [r for r in rows if r["cluster_id"] % 10 == 0]
    assert planted, "no planted clusters found"
    for r in planted:
        # cluster_id (the component's min node id) is a degraded copy
        # whenever it is %10==0 and < _SURV_SHIFT. Base-corpus near-dups can
        # merge several planted pairs into one cluster, so the exact
        # survivor id varies — but it must NEVER be a degraded member
        # (low-id %10==0 copy), and never the min-id canonical.
        assert r["survivor_doc_id"] != r["cluster_id"]
        is_degraded = (
            r["survivor_doc_id"] < _SURV_SHIFT
            and r["survivor_doc_id"] % 10 == 0
        )
        assert not is_degraded, r


def test_repeated_ngram_spans_planted_boilerplate(spark):
    """Every 7th doc carries the planted 10-token boilerplate line, so
    it must show >= 5 duplicated 6-gram windows (10-6+1) merging into
    at least one span that covers >= 10 tokens; invariants hold for
    every row (coverage arithmetic, covered <= n_tokens, spans <->
    windows consistency). Value-level cross-check vs DuckDB is the
    parity oracle; this pins the SEMANTICS a refactor must keep."""
    from log_analysis_bigdata_spark.queries import all_queries

    rows = (
        all_queries()["repeated_ngram_spans"].spark(spark, SF_SMOKE).collect()
    )
    assert rows, "empty result"
    by_id = {r["doc_id"]: r for r in rows}
    planted = [r for r in rows if r["doc_id"] % 7 == 0]
    assert planted
    for r in planted:
        assert r["dup_windows"] >= 5, r
        assert r["n_spans"] >= 1, r
        assert r["covered_tokens"] >= 10, r
    for r in rows:
        assert 0 <= r["covered_tokens"] <= r["n_tokens"], r
        assert r["coverage_e4"] == 10000 * r["covered_tokens"] // r["n_tokens"], r
        assert (r["n_spans"] >= 1) == (r["dup_windows"] >= 1), r
        # per span, W windows cover between W + K - 1 (dense overlap)
        # and W * K (starts spaced exactly K apart) tokens
        if r["dup_windows"]:
            assert r["covered_tokens"] <= 6 * r["dup_windows"], r
            assert (
                r["covered_tokens"] >= r["dup_windows"] + 5 * r["n_spans"]
            ), r


def test_decontaminate_spans_excises_planted_boilerplate(spark):
    """Token-level decontamination semantics on the planted fixture:
    every 9th corpus doc gets the 10-token boilerplate line that every
    4th benchmark (src0) doc also carries, so for those docs the query
    MUST (a) report at least one span and >= 10 removed tokens, (b)
    return clean_text that no longer contains the line, and (c) keep
    the doc's own tail text. Docs are never dropped — the output has
    one row per corpus doc — and removal accounting is exact:
    n_tok - n_removed == len(clean_text tokens)."""
    from log_analysis_bigdata_spark.queries.textq import (
        _BOILERPLATE,
        decontaminate_spans_docs,
    )

    rows = decontaminate_spans_docs(spark, SF_SMOKE).collect()
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("source") != "src0")
        .select("doc_id", "text")
        .collect()
    )
    orig = {r["doc_id"]: r["text"] for r in docs}
    assert {r["doc_id"] for r in rows} == set(orig)  # no doc dropped

    planted = [r for r in rows if r["doc_id"] % 9 == 0]
    assert planted, "fixture must plant at least one corpus doc"
    for r in rows:
        kept = r["clean_text"].split(" ") if r["clean_text"] else []
        assert r["n_tok"] - r["n_removed"] == len(kept), r["doc_id"]
        assert _BOILERPLATE not in r["clean_text"], r["doc_id"]
    for r in planted:
        assert r["n_spans"] >= 1, r
        assert r["n_removed"] >= 10, r  # at least the planted line
        # the doc's own content survives the excision: its last token
        # (untouched by the PREPENDED line) is still the last token
        assert r["clean_text"].split(" ")[-1] == orig[r["doc_id"]].split()[-1]


def test_merge_pos_islands_semantics_and_sql_twin(spark):
    """The single-sourced island rule (round 12, VERDICT r11 task 2):
    hits within k chain into one span, gap > k breaks, p1 is the LAST
    covered token (max(pos) + k - 1, inclusive), wins counts windows.
    Pin hand-computed islands on the Spark helper AND the DuckDB
    fragment over the same literal rows so the two can't drift."""
    import duckdb

    from log_analysis_bigdata_spark.queries.textq import (
        _island_sql,
        merge_pos_islands,
    )

    k = 3
    rows = [(1, 0), (1, 2), (1, 3), (1, 9), (1, 15), (1, 16), (2, 5)]
    # doc 1: {0,2,3} (gaps 2,1 <= 3), {9} (gap 6), {15,16}; doc 2: {5}
    want = {
        (1, 0, 5, 3),   # p1 = 3 + k - 1
        (1, 9, 11, 1),
        (1, 15, 18, 2),
        (2, 5, 7, 1),
    }
    hits = spark.createDataFrame(rows, "doc_id long, pos long")
    got = {
        (r["doc_id"], r["p0"], r["p1"], r["wins"])
        for r in merge_pos_islands(hits, k, with_wins=True).collect()
    }
    assert got == want

    vals = ", ".join(f"({d}, {p})" for d, p in rows)
    sql = f"""
    WITH hits(doc_id, pos) AS (VALUES {vals}),
    {_island_sql(k, with_wins=True)}
    SELECT doc_id, p0, p1, wins FROM sp
    """
    assert {tuple(r) for r in duckdb.sql(sql).fetchall()} == want

    # without wins: same spans, no wins column
    no_wins = merge_pos_islands(hits, k).columns
    assert no_wins == ["doc_id", "island", "p0", "p1"]


def test_mixture_temperature_sample_flattens_and_accounts(spark):
    """Temperature-sampling semantics: (a) keep-rates are integer-exact
    and reproducible from the reported per-source totals (k256 =
    min(256, B*w/(SW*tok))); (b) the tau=1/2 flattening is real —
    among uncapped sources, a SMALLER source never gets a lower
    keep-rate than a larger one; (c) the kept-token total respects the
    half-corpus budget up to per-source quantization (k is floored to
    1/256 units, so kept expectation <= budget; the hash realization
    adds bounded noise); (d) kept_docs/kept_tokens equal an independent
    recomputation from the md5 rule."""
    import hashlib

    from log_analysis_bigdata_spark.queries.corpusq import (
        MIX_RATE_DEN,
        mixture_temperature_sample,
    )

    rows = mixture_temperature_sample(spark, SF_SMOKE).collect()
    assert rows and len({r["source"] for r in rows}) == len(rows)
    sw = sum(r["w_e4"] for r in rows)
    budget = sum(r["n_tok"] for r in rows) // 2
    for r in rows:
        expect_k = min(
            MIX_RATE_DEN,
            (budget * r["w_e4"] * MIX_RATE_DEN) // (sw * r["n_tok"]),
        )
        assert r["k256"] == expect_k, (r["source"], r["k256"], expect_k)
    uncapped = [r for r in rows if r["k256"] < MIX_RATE_DEN]
    for a in uncapped:
        for b in uncapped:
            if a["n_tok"] < b["n_tok"]:
                assert a["k256"] >= b["k256"], (a, b)

    # (d) independent recomputation of membership from raw docs
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source", F.size(F.split(F.trim("text"), " +"))
                .cast("long").alias("n_tokens"))
        .collect()
    )
    k_of = {r["source"]: r["k256"] for r in rows}
    got = {r["source"]: [r["kept_docs"], r["kept_tokens"]] for r in rows}
    want = {s: [0, 0] for s in k_of}
    for d in docs:
        h = hashlib.md5(str(d["doc_id"]).encode()).hexdigest()
        v = int(h[0], 16) * 16 + int(h[1], 16)
        if v < k_of[d["source"]]:
            want[d["source"]][0] += 1
            want[d["source"]][1] += d["n_tokens"]
    assert got == want


def test_mixture_rate_survives_int64_overflow(spark):
    """ADVICE r11: the keep-rate numerator b*w_e4*256 crosses int64 at
    ~sf30-100 token masses; non-ANSI Spark int64 multiplication wraps
    SILENTLY. Pin both engines' widened expressions (DECIMAL(38,0) /
    HUGEINT) against Python bigint math at an operating point where the
    un-widened int64 product provably wraps."""
    import duckdb

    from log_analysis_bigdata_spark.queries.corpusq import MIX_RATE_DEN

    # a sf~100 corpus: ~1e14 tokens, budget b ~ 5e13, w_e4 ~ 1e11
    b, w_e4, sw, n_tok = 50_000_000_000_000, 99_998_000_000, 100_000_000_000, 99_996_000_028_000
    assert b * w_e4 * MIX_RATE_DEN > 2**63  # int64 WOULD wrap here
    expect = min(MIX_RATE_DEN, (b * w_e4 * MIX_RATE_DEN) // (sw * n_tok))

    df = spark.createDataFrame(
        [(b, w_e4, sw, n_tok)], "b long, w_e4 long, sw long, n_tok long"
    )
    got_spark = df.select(
        F.least(
            F.lit(MIX_RATE_DEN),
            F.expr(
                f"(CAST(b AS DECIMAL(38,0)) * w_e4 * {MIX_RATE_DEN})"
                f" div (CAST(sw AS DECIMAL(38,0)) * n_tok)"
            ),
        ).alias("k256")
    ).collect()[0]["k256"]
    got_duck = duckdb.sql(
        f"SELECT least({MIX_RATE_DEN},"
        f" CAST((CAST({b} AS HUGEINT) * {w_e4} * {MIX_RATE_DEN})"
        f" // (CAST({sw} AS HUGEINT) * {n_tok}) AS BIGINT)) AS k"
    ).fetchone()[0]
    assert got_spark == got_duck == expect, (got_spark, got_duck, expect)


def test_propagate_stats_rebase_bounds_plan_statistics(spark):
    """Round-14 sf10 finding: localCheckpoint preserves origin plan
    STATISTICS, and each propagation round joins the label frame with
    itself, so the size-only stats estimate SQUARES per round (27 →
    13k bits in 10 rounds measured) until BigInteger refuses the
    multiply at 2^31 bits and planning throws. The periodic parquet
    re-base (components.STATS_RESET_EVERY) must (a) keep the final
    plan's sizeInBytes bit-length bounded across a ≥8-round run and
    (b) not perturb the labels across the reset boundary."""
    from pyspark.sql import functions as F

    from log_analysis_bigdata_spark.operators import components as C

    # chain graph: diameter 4000 → pointer-halving needs ~log2 rounds,
    # comfortably crossing the STATS_RESET_EVERY=8 boundary
    n = 4000
    e = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    out = C._propagate(sym, labels)
    rows = out.collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)
    bits = int(
        out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()
    # the guarantee is rebased_bits x 2^(STATS_RESET_EVERY-1) — ~35·2^7
    # ≈ 4.5k bits worst case between re-bases, 6 orders of magnitude
    # under the 2^31 BigInteger cap. Without the re-base a run this deep
    # compounds past 10^5 bits and keeps doubling every further round.
    assert bits < 20_000, f"plan stats compounding again: {bits} bits"


def test_rebase_base_dir_guards_non_local_master():
    """ADVICE r14 (medium): the driver-local tempdir fallback is only
    correct when driver == executors. A non-local master without a
    checkpoint dir must raise with actionable guidance, never silently
    write executor-local part files."""
    import pytest

    from log_analysis_bigdata_spark.operators import components as C

    class _Ctx:
        master = "spark://cluster:7077"

        def getCheckpointDir(self):
            return None

    class _Spark:
        sparkContext = _Ctx()

    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        C._rebase_base_dir(_Spark())

    class _LocalCtx(_Ctx):
        master = "local[4]"

    class _LocalSpark:
        sparkContext = _LocalCtx()

    assert C._rebase_base_dir(_LocalSpark())  # tempdir fallback allowed

    class _CkptCtx(_Ctx):
        def getCheckpointDir(self):
            return "/shared/ckpt"

    class _CkptSpark:
        sparkContext = _CkptCtx()

    assert C._rebase_base_dir(_CkptSpark()) == "/shared/ckpt"


def test_rebase_dirs_are_deleted_after_use(spark, tmp_path, monkeypatch):
    """ADVICE r14 (low): when a checkpoint dir IS set, Spark never
    cleans the non-RDD-checkpoint rebase parquet dirs, so deep runs
    would leak one dir per STATS_RESET_EVERY rounds. The loop must
    leave ZERO cc_stats_rebase_* dirs behind (each is deleted once a
    later round has re-materialized the labels) while still producing
    correct components."""
    import tempfile

    from pyspark.sql import functions as F

    from log_analysis_bigdata_spark.operators import components as C

    # force frequent rebases on a chain deep enough for several resets
    monkeypatch.setattr(C, "STATS_RESET_EVERY", 2)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    n = 1000
    e = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    out = C._propagate(sym, labels)
    rows = out.collect()
    assert len(rows) == n and all(r["component"] == 0 for r in rows)
    leaked = list(tmp_path.glob("cc_stats_rebase_*"))
    assert not leaked, f"rebase dirs leaked: {leaked}"


def test_bounded_broadcast_keeps_one_live_block_per_site(spark):
    """ADVICE r15: plan-build-time sc.broadcast calls must not
    accumulate executor blocks across repeated invocations — each call
    site unpersists its previous broadcast (non-blocking; Spark
    re-ships transparently if the old plan re-executes)."""
    from log_analysis_bigdata_spark import session as las_session
    from log_analysis_bigdata_spark.session import bounded_broadcast

    site = "test.bounded_broadcast.site"
    b1 = bounded_broadcast(spark, site, {"v": 1})
    calls = []
    orig = b1.unpersist
    b1.unpersist = lambda blocking=False: calls.append(blocking) or orig(
        blocking=blocking
    )
    b2 = bounded_broadcast(spark, site, {"v": 2})
    assert calls == [False], "previous broadcast was not unpersisted"
    assert las_session._LIVE_RESOURCES[site] is b2
    assert b2.value == {"v": 2}
    # unpersist (not destroy): the old value must still be readable
    # driver-side, so a lingering plan that references it re-ships
    assert b1.value == {"v": 1}
    del las_session._LIVE_RESOURCES[site]


def test_setequal_class_collapse_rotated_boilerplate(spark):
    """ADVICE r16 + VERDICT r17 task 5: the exact-class collapse keys
    on SHINGLE-SET equality via a fixed-width digest pair, not the raw
    hs array. Rotated boilerplate (token rotations of one cycle) has
    set-equal but order/multiplicity-different shingle arrays: the r16
    raw-array key left each rotation its own class, so an m-member
    reordered class still hit the LSH bucket m^2/2-quadratic. Pins:
    (1) the rotations collapse into ONE class pre-banding, so only one
    representative enters candidate generation; (2) the pipeline
    output is the single cluster with min-id keeper the brute-force
    semantics require."""
    from log_analysis_bigdata_spark.operators.dedup import (
        band_digests,
        candidate_pairs,
        exact_class_collapse,
        minhash_dedup_pipeline,
        shingle_sets,
    )

    base = ["tok%02d" % i for i in range(12)]
    m = 24
    rots = [base[r % 12 :] + base[: r % 12] for r in range(m)]
    rows = [
        # rotation r of the 12-token cycle, wrapped so every 3-gram
        # shingle of the cycle appears: set-equal across rotations,
        # array order and head/tail multiplicity differ
        (100 + r, " ".join(rot + rot[:2]))
        for r, rot in enumerate(rots)
    ] + [(999, "entirely different text with no overlap at all here")]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])

    reps, star = exact_class_collapse(
        "test_operators.rotated_boilerplate",
        shingle_sets(corpus),
        "doc_id",
        F.array_sort(F.array_distinct("hs")),
    )
    members = {r["rep"]: r["count"] for r in star.groupBy("rep").count().collect()}
    sizes = sorted(1 + members.get(r["doc_id"], 0) for r in reps.collect())
    assert sizes == [1, m], sizes  # one m-member class + the outlier
    # only the representative reaches banding: candidate volume is
    # O(1), not m^2/2 = 276
    assert candidate_pairs(band_digests(reps)).count() == 0

    out = {
        r["keep_doc_id"]: (r["n_members"], r["max_doc_id"])
        for r in minhash_dedup_pipeline(corpus).collect()
    }
    assert out[100] == (m, 100 + m - 1)
    assert 999 not in out  # singleton never verified: no cluster row
