"""Data-quality check suite (dataframes_spark/quality.py): one-pass
evaluation, verdicts, and the validate() pipeline gate."""

import pytest
from pyspark.sql import functions as F

from dataframes_spark import quality as Q


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            (1, "a@x.com", 10.0, "en"),
            (2, "b@y.org", 20.0, "fr"),
            (3, None, 30.0, "en"),
            (4, "not-an-email", 200.0, "xx"),
            (4, "d@z.net", None, "en"),
        ],
        "id long, email string, score double, lang string",
    )


def test_passing_suite(frame):
    report = Q.run_checks(
        frame,
        [
            Q.row_count(1, 10),
            Q.not_null("email", max_null_fraction=0.25),
            Q.in_range("score", 0, 1000),
            Q.values_in("lang", ["en", "fr", "xx"]),
        ],
    )
    assert all(r["passed"] for r in report)
    assert len(report) == 4


def test_failing_checks_have_observed_detail(frame):
    report = {
        (r["check"], r["column"]): r
        for r in Q.run_checks(
            frame,
            [
                Q.unique("id"),                      # id 4 duplicated
                Q.not_null("email"),                 # one null
                Q.in_range("score", 0, 100),         # 200 out of range
                Q.values_in("lang", ["en", "fr"]),   # 'xx' outside
                Q.matches("email", r"[^@]+@[^@]+\.[a-z]+"),  # one junk
                Q.mean_between("score", 0, 50),      # mean 65
                Q.row_count(10),                     # only 5 rows
            ],
        )
    }
    assert not report[("unique", "id")]["passed"]
    assert "1 duplicates" in report[("unique", "id")]["observed"]
    assert not report[("not_null", "email")]["passed"]
    assert not report[("in_range", "score")]["passed"]
    assert "1 out of range" in report[("in_range", "score")]["observed"]
    assert not report[("values_in", "lang")]["passed"]
    assert not report[("matches", "email")]["passed"]
    assert not report[("mean_between", "score")]["passed"]
    assert not report[("row_count", "*")]["passed"]


def test_validate_raises_with_all_failures(frame):
    with pytest.raises(ValueError) as e:
        Q.validate(frame, [Q.unique("id"), Q.row_count(10)])
    msg = str(e.value)
    assert "unique(id)" in msg and "row_count(*)" in msg


def test_single_aggregation_for_whole_suite(frame, monkeypatch):
    # the entire suite compiles into ONE .agg(...) call (one job)
    # Spark 4: pyspark.sql.DataFrame is abstract; patch the concrete class
    cls = type(frame)
    calls = []
    orig = cls.agg

    def counting_agg(self, *a, **kw):
        calls.append(len(a))
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "agg", counting_agg)
    Q.run_checks(
        frame,
        [Q.row_count(1), Q.not_null("email", 1.0), Q.in_range("score", 0, 1000), Q.unique("id")],
    )
    assert calls == [5]  # one agg carrying every check's expressions


def test_empty_frame_checks(spark):
    df = spark.createDataFrame([], "id long, v double")
    report = {r["check"]: r for r in Q.run_checks(df, [Q.row_count(0, 0), Q.not_null("v")])}
    assert report["row_count"]["passed"]
    assert report["not_null"]["passed"]


def test_check_report_frame(frame):
    rep = Q.check_report(frame, [Q.row_count(1), Q.unique("id")])
    assert rep.columns == ["check", "column", "passed", "observed", "expected"]
    assert rep.count() == 2


def test_empty_frame_range_and_set_checks_vacuously_true(spark):
    # F.sum over zero rows is NULL; the checks must coalesce it to 0 —
    # an empty micro-batch killed a raise-mode stream gate otherwise
    df = spark.createDataFrame([], "id long, v double, lang string")
    report = {r["check"]: r for r in Q.run_checks(
        df, [Q.in_range("v", 0, 100), Q.values_in("lang", ["en"])]
    )}
    assert report["in_range"]["passed"]
    assert report["values_in"]["passed"]


def test_matches_and_mean_vacuous_on_empty(spark):
    df = spark.createDataFrame([], "s string, v double")
    report = {r["check"]: r for r in Q.run_checks(
        df, [Q.matches("s", r"[a-z]+"), Q.mean_between("v", 0, 1)]
    )}
    assert report["matches"]["passed"]
    assert report["mean_between"]["passed"]
    assert report["matches"]["observed"] == "no values"


def test_unique_approx_mode(spark):
    # a truly-unique column passes the approx gate; a ~50%-duplicate
    # column fails it (dup mass far beyond the 3*rsd error band); exact
    # mode still reports the precise duplicate count alongside
    df = spark.createDataFrame([(i, i // 2) for i in range(1000)], ["id", "half"])
    rep = {
        (r["check"], r["column"]): r
        for r in Q.run_checks(
            df,
            [Q.unique("id", approx=True), Q.unique("half", approx=True), Q.unique("half")],
        )
    }
    assert rep[("unique_approx", "id")]["passed"]
    assert not rep[("unique_approx", "half")]["passed"]
    assert "rsd" in rep[("unique_approx", "half")]["expected"]
    assert "500 duplicates" in rep[("unique", "half")]["observed"]


def test_unique_approx_empty_vacuously_true(spark):
    df = spark.createDataFrame([], "id long")
    assert Q.run_checks(df, [Q.unique("id", approx=True)])[0]["passed"]


# --------------------------------------------------------------------------
# Distribution drift (drift_psi / drift_gate)
# --------------------------------------------------------------------------


def test_drift_psi_zero_for_identical_frames(spark):
    df = spark.createDataFrame([(float(i % 50),) for i in range(1000)], "v double")
    rows = Q.drift_psi(df, df, "v", bins=10, lo=0.0, hi=50.0).collect()
    assert len(rows) == 10
    assert abs(sum(r.psi_term for r in rows)) < 1e-12  # identical -> PSI 0
    assert abs(sum(r.p_ref for r in rows) - 1.0) < 1e-9
    g = Q.drift_gate(df, df, "v", lo=0.0, hi=50.0)
    assert g["passed"] and g["psi"] < 1e-12


def test_drift_psi_detects_shift_and_clamps_outliers(spark):
    ref = spark.createDataFrame([(float(i % 50),) for i in range(1000)], "v double")
    # shifted AND partially out of range: the clamp must move the index
    cur = spark.createDataFrame(
        [(float(i % 50) + 40.0,) for i in range(1000)], "v double"
    )
    g = Q.drift_gate(ref, cur, "v", lo=0.0, hi=50.0)
    assert not g["passed"] and g["psi"] > 0.25
    rows = Q.drift_psi(ref, cur, "v", bins=10, lo=0.0, hi=50.0).collect()
    top = [r for r in rows if r.bin == 9][0]
    assert top.n_cur > top.n_ref  # out-of-range mass lands in the edge bin
    # every term is finite even where a side has an empty bin (smoothing)
    assert all(r.psi_term == r.psi_term for r in rows)  # no NaN


def test_drift_psi_default_bounds_and_nulls(spark):
    ref = spark.createDataFrame(
        [(float(v),) for v in range(100)] + [(None,)], "v double"
    )
    cur = spark.createDataFrame([(float(v),) for v in range(100)], "v double")
    rows = Q.drift_psi(ref, cur, "v", bins=5).collect()  # lo/hi from ref
    assert len(rows) == 5 and sum(r.n_ref for r in rows) == 100  # null dropped
    assert abs(sum(r.psi_term for r in rows)) < 1e-10


def test_drift_psi_extreme_values_clamp_to_edge_bins(spark):
    """The clamp runs on the LongType floor BEFORE the int cast: values
    whose scaled bin passes 2^31 (and +/-inf) must land in the edge
    bins, not wrap into bin 0 / a middle bin; NaN is excluded like
    NULL (r8 ADVICE: quality.py _binned_counts wrap-around)."""
    ref = spark.createDataFrame([(float(v),) for v in range(100)], "v double")
    cur = spark.createDataFrame(
        [
            (3e9,),        # beyond int32 wrap: must clamp to top bin
            (5e9,),        # deeper wrap (would land mid-range if cast first)
            (float("inf"),),
            (-3e9,),
            (float("-inf"),),
            (float("nan"),),  # excluded, like NULL
            (50.0,),
        ],
        "v double",
    )
    rows = Q.drift_psi(ref, cur, "v", bins=10, lo=0.0, hi=100.0).collect()
    by_bin = {r.bin: r for r in rows}
    assert sum(r.n_cur for r in rows) == 6  # NaN dropped
    assert by_bin[9].n_cur == 3  # 3e9, 5e9, +inf in the TOP edge bin
    assert by_bin[0].n_cur == 2  # -3e9, -inf in the BOTTOM edge bin
    assert by_bin[5].n_cur == 1  # 50.0 where it belongs
    # multi-column lane shares the contract
    m = Q.drift_psi_multi(ref, cur, {"v": (0.0, 100.0)}, bins=10).collect()
    mb = {r.bin: r for r in m}
    assert mb[9].n_cur == 3 and mb[0].n_cur == 2


def test_drift_psi_empty_reference_raises_clearly(spark):
    import pytest as _pt

    ref = spark.createDataFrame([(None,)], "v double")
    cur = spark.createDataFrame([(1.0,)], "v double")
    with _pt.raises(ValueError, match="no non-null values"):
        Q.drift_psi(ref, cur, "v")  # default lo/hi from an all-null ref


def test_drift_psi_validation(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    import pytest as _pt

    with _pt.raises(ValueError, match="bins"):
        Q.drift_psi(df, df, "v", bins=1)
    with _pt.raises(ValueError, match="smoothing"):
        Q.drift_psi(df, df, "v", smoothing=0.0)
    with _pt.raises(ValueError, match="hi > lo"):
        Q.drift_psi(df, df, "v", lo=5.0, hi=5.0)


def test_hist_store_incremental_drift_equals_two_frame(spark):
    ref = spark.createDataFrame([(float(i % 50),) for i in range(1000)], "v double")
    a = ref.filter(F.col("v") < 25)
    b = ref.filter(F.col("v") >= 25)
    cur = spark.createDataFrame(
        [(float(i % 50) + 10.0,) for i in range(500)], "v double"
    )
    table = "hist_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    Q.hist_store_update(spark, table, a, "v", bins=10, lo=0.0, hi=50.0)
    Q.hist_store_update(spark, table, b, "v", bins=10, lo=0.0, hi=50.0)
    # the store is (bin, n) rows only; the binning is its stamp
    assert spark.table(table).columns == ["bin", "n"]
    assert spark.table(table).agg(F.sum("n")).first()[0] == 1000
    inc = Q.drift_psi_from_store(spark, table, cur).collect()
    whole = Q.drift_psi(ref, cur, "v", bins=10, lo=0.0, hi=50.0).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in whole]
    g = Q.drift_gate_from_store(spark, table, cur)
    g2 = Q.drift_gate(ref, cur, "v", lo=0.0, hi=50.0)
    assert abs(g["psi"] - g2["psi"]) < 1e-12
    # binning is stamped: a mismatched fold refuses
    with pytest.raises(ValueError, match="refusing to fold"):
        Q.hist_store_update(spark, table, a, "v", bins=20, lo=0.0, hi=50.0)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    with pytest.raises(Exception, match="TABLE_OR_VIEW|empty"):
        Q.drift_psi_from_store(spark, "no_such_hist_store", ref)


def test_drift_psi_terms_never_negative_any_data(spark):
    """PSI is a sum of per-bin terms (p_cur - p_ref) * ln(p_cur / p_ref);
    the factors always share sign, so every term is >= 0 whatever the
    data — the property that makes a max_psi threshold meaningful (no
    bin can cancel another's drift)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        a=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=40),
        b=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=40),
    )
    def run(a, b):
        ref = spark.createDataFrame([(v,) for v in a], "v double")
        cur = spark.createDataFrame([(v,) for v in b], "v double")
        rows = Q.drift_psi(ref, cur, "v", bins=5, lo=0.0, hi=100.0).collect()
        assert all(r.psi_term >= -1e-15 for r in rows)
        total = sum(r.psi_term for r in rows)
        assert total >= -1e-15

    run()


def test_drift_psi_multi_matches_per_column_and_scans_once(spark):
    ref = spark.createDataFrame(
        [(float(i % 50), float(i % 7)) for i in range(1000)], "a double, b double"
    )
    cur = spark.createDataFrame(
        [(float(i % 50) + 5.0, float(i % 7)) for i in range(800)],
        "a double, b double",
    )
    specs = {"a": (0.0, 50.0), "b": (0.0, 7.0)}
    multi = Q.drift_psi_multi(ref, cur, specs, bins=5)
    rows = multi.collect()
    assert len(rows) == 10  # 2 cols x 5 bins
    for c in specs:
        lo, hi = specs[c]
        single = Q.drift_psi(ref, cur, c, bins=5, lo=lo, hi=hi).collect()
        got = [tuple(r)[1:] for r in rows if r.col == c]
        assert got == [tuple(r) for r in single]
    # drifted column indexes high, undrifted near zero
    psi = {
        r["col"]: r["s"]
        for r in multi.groupBy("col").agg(F.sum("psi_term").alias("s")).collect()
    }
    # b's residual is pure smoothing mismatch (ref n=1000 vs cur n=800)
    assert psi["a"] > 0.05 and abs(psi["b"]) < 1e-3
    # NULLs drop per column without dropping the row's other columns
    dirty = ref.unionByName(
        spark.createDataFrame([(None, 3.0)], "a double, b double")
    )
    m2 = Q.drift_psi_multi(dirty, cur, specs, bins=5)
    tot = {
        r["col"]: r["n"]
        for r in m2.groupBy("col").agg(F.sum("n_ref").alias("n")).collect()
    }
    assert tot["a"] == 1000 and tot["b"] == 1001
    with pytest.raises(ValueError, match="at least one"):
        Q.drift_psi_multi(ref, cur, {})
    with pytest.raises(ValueError, match="hi > lo"):
        Q.drift_psi_multi(ref, cur, {"a": (5.0, 5.0)})


# --------------------------------------------------------------------------
# Categorical PSI drift + stores (round 9)
# --------------------------------------------------------------------------


def _cat_frames(spark):
    ref = spark.createDataFrame(
        [("en",)] * 60 + [("de",)] * 25 + [("fr",)] * 10 + [("pl",)] * 4 + [("nl",)] * 1,
        "lang string",
    )
    cur = spark.createDataFrame(
        [("en",)] * 30 + [("de",)] * 25 + [("zh",)] * 40 + [("fr",)] * 5,
        "lang string",
    )
    return ref, cur


def test_drift_psi_categorical_identical_is_zero(spark):
    ref, _ = _cat_frames(spark)
    rows = Q.drift_psi_categorical(ref, ref, "lang", top_k=3).collect()
    assert abs(sum(r.psi_term for r in rows)) < 1e-12
    assert {r.category for r in rows} == {"en", "de", "fr", "__other__"}
    other = [r for r in rows if r.category == "__other__"][0]
    assert other.n_ref == 5  # pl + nl fold into __other__


def test_drift_psi_categorical_detects_new_category(spark):
    ref, cur = _cat_frames(spark)
    g = Q.drift_gate_categorical(ref, cur, "lang", top_k=3)
    assert not g["passed"] and g["psi"] > 0.25  # zh = 40% unseen mass
    rows = Q.drift_psi_categorical(ref, cur, "lang", top_k=3).collect()
    other = [r for r in rows if r.category == "__other__"][0]
    assert other.n_cur == 40 and other.n_ref == 5
    # every term finite (smoothing), none NaN
    assert all(r.psi_term == r.psi_term for r in rows)


def test_drift_psi_categorical_topk_tiebreak_and_nulls(spark):
    # b and c tie on count: value-asc tiebreak keeps the derivation
    # deterministic; NULLs excluded like the numeric gate
    ref = spark.createDataFrame(
        [("a",)] * 3 + [("c",)] * 2 + [("b",)] * 2 + [(None,)], "v string"
    )
    cur = spark.createDataFrame([("a",)], "v string")
    rows = Q.drift_psi_categorical(ref, cur, "v", top_k=2).collect()
    assert {r.category for r in rows} == {"a", "b", "__other__"}
    assert sum(r.n_ref for r in rows) == 7  # null dropped


def test_drift_psi_categorical_explicit_categories_and_validation(spark):
    ref, cur = _cat_frames(spark)
    rows = Q.drift_psi_categorical(
        ref, cur, "lang", categories=["en", "zh"]
    ).collect()
    by = {r.category: r for r in rows}
    assert set(by) == {"en", "zh", "__other__"}
    assert by["zh"].n_ref == 0 and by["zh"].n_cur == 40
    import pytest as _pt

    with _pt.raises(ValueError, match="smoothing"):
        Q.drift_psi_categorical(ref, cur, "lang", smoothing=0.0)
    with _pt.raises(ValueError, match="non-empty"):
        Q.drift_psi_categorical(ref, cur, "lang", categories=[])
    with _pt.raises(ValueError, match="distinct"):
        Q.drift_psi_categorical(ref, cur, "lang", categories=["a", "a"])
    with _pt.raises(ValueError, match="reserved"):
        Q.drift_psi_categorical(ref, cur, "lang", categories=["__other__"])
    with _pt.raises(ValueError, match="top_k"):
        Q.drift_psi_categorical(ref, cur, "lang", top_k=0)


def test_cat_store_incremental_equals_two_frame(spark):
    ref, cur = _cat_frames(spark)
    cats = ["en", "de", "fr"]
    a = ref.limit(40)
    b = ref.exceptAll(a)  # the remaining 60 rows, multiplicity kept
    table = "cat_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    Q.cat_hist_store_update(spark, table, a, "lang", cats)
    Q.cat_hist_store_update(spark, table, b, "lang", cats)
    assert spark.table(table).agg(F.sum("n")).first()[0] == 100
    got = Q.drift_psi_categorical_from_store(spark, table, cur).collect()
    want = Q.drift_psi_categorical(ref, cur, "lang", categories=cats).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # stamp guards: changed category set or column refuses to fold
    import pytest as _pt

    with _pt.raises(ValueError, match="refusing to fold"):
        Q.cat_hist_store_update(spark, table, b, "lang", ["en", "de"])
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_cat_store_keeps_zero_count_categories(spark):
    """A stamped category that counts 0 in every fold must stay a store
    ROW — the read side derives the category set from the rows, and a
    vanished category would silently re-bucket future batches into
    __other__."""
    table = "cat_store_zero_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    batch = spark.createDataFrame([("en",)] * 10, "lang string")
    Q.cat_hist_store_update(spark, table, batch, "lang", ["en", "zh"])
    got = {r.category: r.n for r in spark.table(table).collect()}
    assert got == {"en": 10, "zh": 0, "__other__": 0}
    # a later zh-heavy batch is bucketed as zh (not __other__) by the
    # store-backed gate
    cur = spark.createDataFrame([("zh",)] * 10, "lang string")
    rows = {r.category: r.n_cur for r in
            Q.drift_psi_categorical_from_store(spark, table, cur).collect()}
    assert rows["zh"] == 10 and rows["__other__"] == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_multi_hist_store_equals_two_frame_multi(spark):
    ref = spark.createDataFrame(
        [(float(i % 50), float(i % 7)) for i in range(1000)], "v double, w double"
    )
    a = ref.filter(F.col("v") < 25)
    b = ref.filter(F.col("v") >= 25)
    cur = spark.createDataFrame(
        [(float(i % 50) + 10.0, float(i % 3)) for i in range(500)],
        "v double, w double",
    )
    specs = {"v": (0.0, 50.0), "w": (0.0, 7.0)}
    table = "multi_hist_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    Q.hist_store_update_multi(spark, table, a, specs, bins=10)
    Q.hist_store_update_multi(spark, table, b, specs, bins=10)
    n = {r["col"]: r["s"] for r in spark.table(table).groupBy("col")
         .agg(F.sum("n").alias("s")).collect()}
    assert n == {"v": 1000, "w": 1000}
    got = Q.drift_psi_multi_from_store(spark, table, cur).collect()
    want = Q.drift_psi_multi(ref, cur, specs, bins=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # changed bounds refuse to fold
    import pytest as _pt

    with _pt.raises(ValueError, match="refusing to fold"):
        Q.hist_store_update_multi(spark, table, b, {"v": (0.0, 60.0), "w": (0.0, 7.0)}, bins=10)
    with _pt.raises(ValueError, match="refusing to fold"):
        Q.hist_store_update_multi(spark, table, b, {"v": (0.0, 50.0)}, bins=10)
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_store_fold_recovers_from_orphan_staging_dir(spark):
    """A fold that crashes INSIDE the staging write leaves an
    uncataloged staging directory; the next fold must clear it instead
    of failing LOCATION_ALREADY_EXISTS forever (io/store.py
    staging_swap)."""
    import os

    table = "orphan_recovery_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__staging")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orphan = os.path.join(wh, f"{table}__staging")
    os.makedirs(orphan, exist_ok=True)
    open(os.path.join(orphan, "junk"), "w").write("crashed fold leftovers")
    df = spark.createDataFrame([(1.0,)] * 10, "v double")
    Q.hist_store_update(spark, table, df, "v", bins=2, lo=0.0, hi=2.0)
    assert spark.table(table).agg(F.sum("n")).first()[0] == 10
    assert not os.path.exists(os.path.join(orphan, "junk"))
    spark.sql(f"DROP TABLE IF EXISTS {table}")


# property: categorical PSI store law for any batch split
from hypothesis import given, settings, strategies as st


@settings(max_examples=8, deadline=None)
@given(
    langs=st.lists(
        st.sampled_from(["en", "de", "fr", "zh", "pl"]),
        min_size=2,
        max_size=60,
    ),
    cut=st.integers(min_value=1, max_value=59),
)
def test_cat_store_fold_law_any_split(spark, langs, cut):
    """Folding any 2-way split of a batch stream into the category
    store equals one fold of the union — counts are sums, so the
    law is exact for every split point and category mix."""
    import uuid

    cut = min(cut, len(langs) - 1)
    cats = ["en", "de", "fr"]
    df = spark.createDataFrame([(v,) for v in langs], "lang string")
    a = spark.createDataFrame([(v,) for v in langs[:cut]], "lang string")
    b = spark.createDataFrame([(v,) for v in langs[cut:]], "lang string")
    t1 = f"cat_law_{uuid.uuid4().hex[:8]}"
    t2 = f"{t1}_whole"
    Q.cat_hist_store_update(spark, t1, a, "lang", cats)
    Q.cat_hist_store_update(spark, t1, b, "lang", cats)
    Q.cat_hist_store_update(spark, t2, df, "lang", cats)
    got = sorted(map(tuple, spark.table(t1).collect()))
    want = sorted(map(tuple, spark.table(t2).collect()))
    spark.sql(f"DROP TABLE IF EXISTS {t1}")
    spark.sql(f"DROP TABLE IF EXISTS {t2}")
    assert got == want


# ---------------------------------------------------------------------------
# corpus data card (quality.corpus_report)
# ---------------------------------------------------------------------------


def test_corpus_report_hand_values(spark):
    from dataframes_spark.quality import corpus_report

    df = spark.createDataFrame(
        [
            (1, "shared doc text", "a", "en"),
            (2, "shared doc text", "b", "en"),  # cross-source dup
            (3, "unique alpha beta", "a", "en"),
            (4, "one two three four", "a", "de"),
            (5, "solo text here", "b", "de"),
            (6, "solo text here", "b", "de"),  # within-source dup
        ],
        "doc_id long, text string, source string, lang string",
    )
    out = {
        r.source: r
        for r in corpus_report(df, "text", "source", label_col="lang").collect()
    }
    a, b = out["a"], out["b"]
    assert (a.n_docs, a.n_dup_docs, a.total_tokens) == (3, 1, 10)
    assert (b.n_docs, b.n_dup_docs, b.total_tokens) == (3, 3, 9)
    assert a.avg_tokens == round(10 / 3, 6)
    # source a: en=2 de=1 -> en; source b: en=1 de=2 -> de
    assert (a.top_label, a.top_label_frac) == ("en", round(2 / 3, 6))
    assert (b.top_label, b.top_label_frac) == ("de", round(2 / 3, 6))


def test_corpus_report_label_tie_breaks_alphabetically_and_no_label(spark):
    from dataframes_spark.quality import corpus_report

    df = spark.createDataFrame(
        [(1, "x y", "s", "fr"), (2, "z w", "s", "de")],
        "doc_id long, text string, source string, lang string",
    )
    row = corpus_report(df, "text", "source", label_col="lang").collect()[0]
    assert row.top_label == "de" and row.top_label_frac == 0.5
    bare = corpus_report(df, "text", "source")
    assert bare.columns == [
        "source", "n_docs", "n_dup_docs", "total_tokens", "avg_tokens",
    ]


def test_corpus_report_null_text_dups_and_token_zero(spark):
    from dataframes_spark.quality import corpus_report

    df = spark.createDataFrame(
        [(1, None, "s"), (2, None, "s"), (3, "real words", "s")],
        "doc_id long, text string, source string",
    )
    row = corpus_report(df, "text", "source").collect()[0]
    # the two null-text docs dedup-count against each other (null-equal
    # grouping, the exact_dedup rule) and carry zero tokens
    assert (row.n_docs, row.n_dup_docs, row.total_tokens) == (3, 2, 2)


def test_histogram_counts_validation_and_clamp(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in (-100, 0.5, 5.0, 9.5, 1e12)], "v double"
    )
    h = {r["bin"]: r["n"] for r in Q.histogram_counts(df, "v", 10, 0.0, 10.0).collect()}
    assert h[0] == 2  # -100 clamps into bin 0 alongside 0.5
    assert h[9] == 2  # 1e12 clamps into the top bin alongside 9.5
    with pytest.raises(ValueError, match="bins"):
        Q.histogram_counts(df, "v", 1, 0.0, 10.0)
    with pytest.raises(ValueError, match="hi > lo"):
        Q.histogram_counts(df, "v", 10, 5.0, 5.0)


def test_hist_quantiles_exact_on_uniform_and_merge_law(spark):
    # uniform integers 0..999 in [0, 1000) with 100 bins: interpolation
    # is exact up to bin granularity
    df = spark.createDataFrame([(float(i),) for i in range(1000)], "v double")
    h = Q.histogram_counts(df, "v", 100, 0.0, 1000.0)
    est = {r["q"]: r["est"] for r in Q.hist_quantiles(
        h, [0.1, 0.5, 1.0], 100, 0.0, 1000.0).collect()}
    assert abs(est[0.5] - 500.0) <= 10.0
    assert abs(est[0.1] - 100.0) <= 10.0
    assert est[1.0] == 1000.0  # q=1 hits the top of the last bin
    # merge law: counts from disjoint halves sum to the whole, so the
    # estimates from the merged histogram equal the one-shot ones
    a = Q.histogram_counts(df.filter("v < 300"), "v", 100, 0.0, 1000.0)
    b = Q.histogram_counts(df.filter("v >= 300"), "v", 100, 0.0, 1000.0)
    merged = (
        a.unionByName(b).groupBy("bin").agg(F.sum("n").alias("n"))
    )
    est2 = {r["q"]: r["est"] for r in Q.hist_quantiles(
        merged, [0.1, 0.5, 1.0], 100, 0.0, 1000.0).collect()}
    assert est2 == est


def test_hist_quantiles_rejects_zero_and_out_of_range_q(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    h = Q.histogram_counts(df, "v", 4, 0.0, 2.0)
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="quantiles"):
            Q.hist_quantiles(h, [bad], 4, 0.0, 2.0)
