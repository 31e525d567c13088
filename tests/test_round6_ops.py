"""Round-6 operator tests: blocklist mechanism parity + NULL contract,
hot prefix-gram capping, null-group adaptive length, store-recovery
hardening, language identification."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_blocklist_replace_count_equals_lexicon_join(spark):
    """The two blocklist mechanisms — per-phrase replace-count
    (blocklist_filter, policy-sized lists) and exploded positional
    token equi-join (blocklist_lexicon_filter, the gate + scale path)
    — must agree doc-by-doc on the real fixture corpus with the gate's
    own phrase list. This pins the library fast path to the
    oracle-gated mechanism."""
    from dataingestionframework_spark.operators.text import (
        blocklist_filter,
        blocklist_lexicon_filter,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    phrases = ["merge", "window sort"]
    lex = spark.createDataFrame([(p,) for p in phrases], "phrase string")
    rc = {
        r.doc_id: (r.n_blocked_hits, r.blocklist_pass)
        for r in blocklist_filter(docs, phrases, max_hits=2).collect()
    }
    lj = {
        r.doc_id: (r.n_blocked_hits, r.blocklist_pass)
        for r in blocklist_lexicon_filter(docs, lex, max_hits=2).collect()
    }
    assert rc == lj and len(rc) > 0


def test_blocklist_null_text_passes_with_zero_hits(spark):
    """NULL text → 0 hits, pass — the encoding_quality NULL contract,
    now shared by both blocklist mechanisms."""
    from dataingestionframework_spark.operators.text import (
        blocklist_filter,
        blocklist_lexicon_filter,
    )

    df = spark.createDataFrame(
        [(0, None), (1, "merge it")], "doc_id int, text string"
    )
    lex = spark.createDataFrame([("merge",)], "phrase string")
    for out in (
        blocklist_filter(df, ["merge"], max_hits=0),
        blocklist_lexicon_filter(df, lex, max_hits=0),
    ):
        got = {r.doc_id: (r.n_blocked_hits, r.blocklist_pass) for r in out.collect()}
        assert got == {0: (0, True), 1: (1, False)}


class TestPrefixJoinHotGramCap:
    """set_similarity_join_exact(max_prefix_df=...): grams hot by
    PREFIX occupancy are banned from normal docs' prefixes (each doc
    falls back to its next-rarest unbanned gram — recall-preserving by
    the banned-universe prefix-filter argument), so one rare gram
    shared by a templated subset no longer emits C(m,2) candidates."""

    def _corpus(self, spark, n_hot=30, n_fill=370, groups=10):
        # hot docs: 1 unique token + the shared 'hot' token + a pool
        # token p{k}; fillers carry p{k} too (raising its raw df above
        # hot's, so 'hot' ranks rarest-first into every hot doc's
        # prefix) but bury it behind 3 unique tokens of their own.
        rows = [
            (i, f"u{i} hot p{i % groups}") for i in range(n_hot)
        ] + [
            (n_hot + j, f"w{j}a w{j}b w{j}c p{j % groups}")
            for j in range(n_fill)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_capped_output_equals_uncapped(self, spark):
        from dataingestionframework_spark.operators.dedup import (
            set_similarity_join_exact,
        )

        df = self._corpus(spark)
        base = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in set_similarity_join_exact(df, n=1, threshold=0.5).collect()
        }
        capped = {
            (r.id_a, r.id_b, r.jaccard_sim)
            for r in set_similarity_join_exact(
                df, n=1, threshold=0.5, max_prefix_df=10
            ).collect()
        }
        # 30 planted true pairs: same-pool hot docs at J = 2/4 = 0.5
        assert capped == base and len(base) == 30

    def test_candidates_bounded_on_hot_gram(self, spark):
        """One gram in 30 docs' prefixes: uncapped emits C(30,2)=435
        candidates; capped falls back to pool grams (3 docs each)."""
        from dataingestionframework_spark.operators.dedup import (
            _prefix_join_candidates,
        )

        df = self._corpus(spark)
        uncapped = _prefix_join_candidates(df, "text", "doc_id", 1, 0.5, None).count()
        capped = _prefix_join_candidates(df, "text", "doc_id", 1, 0.5, 10).count()
        assert uncapped >= 435
        assert capped == 30  # 10 pools × C(3,2) — near-linear

    def test_saturated_docs_still_exact(self, spark):
        """Docs made almost entirely of banned grams (the
        banned-universe proof's edge case, h ≥ α) keep full prefixes
        and still pair up — recall 1.0 even there."""
        from dataingestionframework_spark.operators.dedup import (
            set_similarity_join_exact,
        )

        rows = [(i, "hota hotb hotc") for i in range(10)]  # identical
        rows += [(100 + j, f"x{j} y{j} z{j} hota") for j in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b)
            for r in set_similarity_join_exact(
                df, n=1, threshold=0.5, max_prefix_df=5
            ).collect()
        }
        expect = {(i, j) for i in range(10) for j in range(i + 1, 10)}
        assert got == expect


class TestNewCorpusOps:
    """containment_join / zipf_slope / oov_rate / sq8_quantize."""

    def test_containment_is_asymmetric(self, spark):
        from dataingestionframework_spark.operators.dedup import containment_join

        quote = "alpha beta gamma delta epsilon"
        host = quote + " " + " ".join(f"w{i}" for i in range(40))
        df = spark.createDataFrame(
            [(0, quote), (1, host), (2, "totally different text entirely here")],
            "doc_id long, text string",
        )
        got = {(r.id_a, r.id_b): r.containment
               for r in containment_join(df, threshold=0.9).collect()}
        assert got[(0, 1)] == 1.0      # the quote is fully inside the host
        assert (1, 0) not in got       # the host is NOT inside the quote
        assert not any(2 in p for p in got)

    def test_containment_matches_bruteforce(self, spark):
        """Prefix-filtered candidates + join verify == exact all-pairs."""
        from dataingestionframework_spark.operators.dedup import containment_join

        import random

        rng = random.Random(5)
        base = [f"t{i}" for i in range(60)]
        rows = []
        for i in range(40):  # contiguous slices of one base sequence:
            s = rng.randrange(0, 50)  # short slices sit inside long ones
            rows.append((i, " ".join(base[s:s + rng.randrange(3, 20)])))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.id_a, r.id_b): r.containment
               for r in containment_join(df, threshold=0.5).collect()}

        def grams(s):
            ts = s.split()
            return {" ".join(ts[i:i + 3]) for i in range(len(ts) - 2)}

        gs = {i: grams(t) for i, t in rows}
        expect = {}
        for a in gs:
            for b in gs:
                if a != b and gs[a]:
                    c = round(len(gs[a] & gs[b]) / len(gs[a]), 4)
                    if c >= 0.5:
                        expect[(a, b)] = c
        assert got == expect and len(expect) > 0

    def test_zipf_slope_recovers_power_law(self, spark):
        """A corpus built with freq(rank) = C/rank must regress to
        slope ≈ -1; a uniform corpus to slope 0."""
        from dataingestionframework_spark.operators.corpus import zipf_slope

        zipf_text = " ".join(
            " ".join([f"w{r}"] * (60 // r)) for r in range(1, 13)
        )
        flat_text = " ".join(" ".join([f"u{r}"] * 7) for r in range(1, 13))
        df = spark.createDataFrame(
            [(0, "zipf", zipf_text), (1, "flat", flat_text)],
            "doc_id long, lang string, text string",
        )
        got = {r.lang: (r.n_terms, r.zipf_slope)
               for r in zipf_slope(df, group_col="lang", top_r=12).collect()}
        assert got["zipf"][0] == 12 and abs(got["zipf"][1] + 1.0) < 0.05
        assert got["flat"][1] == 0.0

    def test_oov_rate_counts_occurrences(self, spark):
        from dataingestionframework_spark.operators.corpus import oov_rate

        df = spark.createDataFrame(
            [
                (0, "a a a b"),        # b (count 1) misses the top-2 cut
                (1, "a z z z"),        # a, z in vocab {a:4, z:3}
                (2, ""),               # empty → (0, 0, 0.0)
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: (r.n_tok, r.n_oov, r.oov_rate)
               for r in oov_rate(df, vocab_k=2).collect()}
        assert got[0] == (4, 1, 0.25)
        assert got[1] == (4, 0, 0.0)
        assert got[2] == (0, 0, 0.0)

    def test_sq8_quantize_bounds_and_zero_vector(self, spark):
        from dataingestionframework_spark.operators.similarity import sq8_quantize

        df = spark.createDataFrame(
            [(0, [1.0, -0.5, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        got = {r.vec_id: r for r in sq8_quantize(df).collect()}
        assert got[0].sq_codes == [127, -64, 32, 0]  # round(0.25/scale)=31.75→32
        assert max(abs(c) for c in got[0].sq_codes) == 127
        # reconstruction error bounded by scale/2
        assert got[0].max_abs_err <= (1.0 / 127.0) / 2 + 1e-9
        assert got[1].sq_codes == [0, 0, 0, 0]
        assert got[1].sq_scale == 0.0 and got[1].max_abs_err == 0.0


class TestBehaviorOps:
    """funnel_conversions / cohort_retention."""

    def _ev(self, spark, rows):
        return spark.createDataFrame(
            [(i, t, u, k) for i, (t, u, k) in enumerate(rows)],
            "event_id long, ts string, user_id long, event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_funnel_requires_strict_order(self, spark):
        from dataingestionframework_spark.operators.behavior import (
            funnel_conversions,
        )

        ev = self._ev(spark, [
            # u1 converts in order
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-01 10:05:00", 1, "click"),
            ("2024-01-01 10:10:00", 1, "purchase"),
            # u2 purchases BEFORE clicking — reaches step 2 only
            ("2024-01-02 09:00:00", 2, "view"),
            ("2024-01-02 09:01:00", 2, "purchase"),
            ("2024-01-02 09:02:00", 2, "click"),
            # u3 never views — reaches nothing
            ("2024-01-03 08:00:00", 3, "click"),
            ("2024-01-03 08:01:00", 3, "purchase"),
        ])
        got = {r.step_idx: (r.step_name, r.n_users)
               for r in funnel_conversions(
                   ev, ["view", "click", "purchase"]).collect()}
        assert got == {1: ("view", 2), 2: ("click", 2), 3: ("purchase", 1)}

    def test_funnel_anchor_is_earliest_continuation(self, spark):
        """First-touch anchoring maximizes conversions: a click between
        two views must anchor on the FIRST view."""
        from dataingestionframework_spark.operators.behavior import (
            funnel_conversions,
        )

        ev = self._ev(spark, [
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-01 10:01:00", 1, "click"),
            ("2024-01-01 10:02:00", 1, "view"),     # later view irrelevant
            ("2024-01-01 10:03:00", 1, "purchase"),
        ])
        got = {r.step_idx: r.n_users
               for r in funnel_conversions(
                   ev, ["view", "click", "purchase"]).collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_cohort_triangle(self, spark):
        from dataingestionframework_spark.operators.behavior import (
            cohort_retention,
        )

        ev = self._ev(spark, [
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-02 10:00:00", 1, "click"),   # day-1 retained
            ("2024-01-02 11:00:00", 1, "view"),    # same day counted once
            ("2024-01-01 12:00:00", 2, "view"),
            ("2024-01-03 12:00:00", 2, "view"),    # day-2 retained
            ("2024-01-02 09:00:00", 3, "view"),    # separate cohort
        ])
        got = {(str(r.cohort_day), r.day_offset): r.n_active
               for r in cohort_retention(ev).collect()}
        assert got == {
            ("2024-01-01", 0): 2,
            ("2024-01-01", 1): 1,
            ("2024-01-01", 2): 1,
            ("2024-01-02", 0): 1,
        }


def test_robust_scale_keeps_null_group_rows(spark):
    """NULL groups form their own calibration cohort instead of being
    silently dropped (the adaptive_length_filter lesson)."""
    from dataingestionframework_spark.operators.profile import robust_scale

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         (None, 5.0), (None, 7.0), (None, 9.0)],
        "g string, v double",
    )
    out = robust_scale(df, "v", "g").collect()
    assert len(out) == 6
    nulls = {r.v: r.scaled for r in out if r.g is None}
    assert nulls == {5.0: -1.0, 7.0: 0.0, 9.0: 1.0}


def test_classification_metrics_null_is_one_class(spark):
    """NULL labels/predictions group into ONE class row, and a NULL
    prediction of a NULL label is a true positive — not two disjoint
    half-rows."""
    from dataingestionframework_spark.operators.profile import (
        classification_metrics,
    )

    m = spark.createDataFrame(
        [("a", "a"), (None, "a"), ("a", None), (None, None)],
        "y string, p string",
    )
    got = {r["class"]: r for r in classification_metrics(m, "y", "p").collect()}
    assert len(got) == 2
    n = got[None]
    assert (n.n_true, n.n_pred, n.tp, n.precision, n.recall) == (2, 2, 1, 0.5, 0.5)


def test_ks_statistic_bounds(spark):
    """Identical samples → D = 0; disjoint supports → D = 1; a known
    half-shifted case → exact hand value."""
    from dataingestionframework_spark.operators.profile import ks_statistic

    rows = [(float(v), "a") for v in (1, 2, 3, 4)]
    df_same = spark.createDataFrame(
        rows + [(float(v), "b") for v in (1, 2, 3, 4)], "v double, g string"
    )
    assert ks_statistic(df_same, "v", "g", "a", "b").first().ks_stat == 0.0

    df_disj = spark.createDataFrame(
        rows + [(float(v), "b") for v in (10, 11)], "v double, g string"
    )
    assert ks_statistic(df_disj, "v", "g", "a", "b").first().ks_stat == 1.0

    # a={1,2}, b={2,3}: ECDFs at v=1: 0.5 vs 0 → D=0.5
    df_half = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (2.0, "b"), (3.0, "b")], "v double, g string"
    )
    r = ks_statistic(df_half, "v", "g", "a", "b").first()
    assert (r.n_a, r.n_b, r.ks_stat) == (2, 2, 0.5)


def test_gini_concentration_extremes(spark):
    from dataingestionframework_spark.operators.profile import (
        gini_concentration,
    )

    even = spark.createDataFrame(
        [(f"s{i % 4}",) for i in range(40)], "source string"
    )
    assert gini_concentration(even, "source").first().gini == 0.0

    skewed = spark.createDataFrame(
        [("big",)] * 97 + [("a",), ("b",), ("c",)], "source string"
    )
    r = gini_concentration(skewed, "source").first()
    # G = 2*(1*1+2*1+3*1+4*97)/(4*100) - 5/4 = 788/400 - 1.25 = 0.72
    assert (r.n_groups, r.total_weight, r.gini) == (4, 100, 0.72)


def test_padding_waste_arithmetic(spark):
    """Hand-checked padding math: 3 docs of 5/8/17 tokens at len 8 →
    1+1+3 sequences, pad = 3+0+7."""
    from dataingestionframework_spark.operators.corpus import (
        padding_waste_report,
    )

    df = spark.createDataFrame(
        [(0, "a " * 5), (1, "b " * 8), (2, "c " * 17), (3, "")],
        "doc_id long, text string",
    )
    got = {r.seq_len: r for r in padding_waste_report(df, [8, 32]).collect()}
    r8 = got[8]
    assert (r8.n_docs, r8.total_tokens, r8.n_sequences, r8.pad_tokens) == (3, 30, 5, 10)
    assert r8.pad_ratio == 0.25
    r32 = got[32]
    assert (r32.n_sequences, r32.pad_tokens) == (3, 66)


def test_classification_metrics_confusion_math(spark):
    """Known confusion matrix: per-class P/R/F1 exact; prediction-only
    and label-only classes get NULL (not 0) on the undefined side."""
    from dataingestionframework_spark.operators.profile import (
        classification_metrics,
    )

    df = spark.createDataFrame(
        [("a", "a")] * 3 + [("a", "b")] * 1 + [("b", "b")] * 2
        + [("b", "c")] * 1,  # 'c' never a true label
        "y string, p string",
    )
    got = {r["class"]: r for r in classification_metrics(df, "y", "p").collect()}
    a = got["a"]
    assert (a.n_true, a.n_pred, a.tp) == (4, 3, 3)
    assert (a.precision, a.recall, a.f1) == (1.0, 0.75, round(6 / 7, 4))
    b = got["b"]
    assert (b.n_true, b.n_pred, b.tp) == (3, 3, 2)
    c = got["c"]
    assert (c.n_true, c.n_pred, c.tp) == (0, 1, 0)
    assert c.precision == 0.0 and c.recall is None and c.f1 is None


def test_pmi_ranks_true_collocation_over_frequent_pair(spark):
    """'hong kong' (always together) must out-PMI 'the cat' (frequent
    words co-occurring by chance)."""
    from dataingestionframework_spark.operators.corpus import pmi_collocations

    rows = [(i, "hong kong " + "the cat " * 3 + "the dog " * 3) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.w1, r.w2): r.pmi for r in pmi_collocations(df, min_count=5).collect()}
    assert got[("hong", "kong")] > got[("the", "cat")]
    assert ("kong", "the") in got  # adjacency crosses phrase boundaries


def test_robust_scale_centers_and_guards_zero_iqr(spark):
    from dataingestionframework_spark.operators.profile import robust_scale

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0),
         ("b", 7.0), ("b", 7.0), ("b", 7.0)],
        "g string, v double",
    )
    got = {(r.g, r.v): (r.med, r.iqr, r.scaled)
           for r in robust_scale(df, "v", "g").collect()}
    assert got[("a", 3.0)] == (3.0, 2.0, 0.0)    # median centers
    assert got[("a", 5.0)] == (3.0, 2.0, 1.0)    # (5-3)/2
    assert got[("b", 7.0)] == (7.0, 0.0, 0.0)    # constant group guarded


def test_seasonal_naive_detects_period(spark):
    """A strongly daily-periodic hourly series must score
    mase_ratio << 1; white noise must not."""
    from dataingestionframework_spark.operators.windows import (
        seasonal_naive_error,
    )

    import datetime as dt
    import random

    rng = random.Random(3)
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for h in range(24 * 8):
        ts = t0 + dt.timedelta(hours=h)
        rows.append((len(rows), ts, "daily", float(100 * (h % 24 == 5))))
        rows.append((len(rows), ts, "noise", rng.uniform(0, 100)))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {r.event_type: r for r in seasonal_naive_error(df).collect()}
    assert got["daily"].mase_ratio is not None
    assert got["daily"].mase_ratio < 0.1      # perfect 24h repeat
    assert got["noise"].mase_ratio > 0.5      # no seasonal advantage


class TestOptimisticCommitConflictMatrix:
    """Pin the parquet emulation's ACID claims as a conflict MATRIX:
    every copy-on-write DML whose base moved — by a pointer-moving
    racer OR a blind append (Delta's ConcurrentAppendException case,
    which the pointer alone cannot see) — must raise
    ConcurrentWriteError and preserve the racer's commit; blind
    appends commute with each other; non-data ops (tag) conflict with
    nothing."""

    def _table(self, spark, tmp_root, name):
        import os

        from dataingestionframework_spark.catalog.table import ManagedTable

        t = ManagedTable(spark, os.path.join(tmp_root, name))
        t.append(
            spark.createDataFrame([(i, f"v{i}") for i in range(8)], "id long, v string")
        )
        return t

    def _race(self, spark, t, racer):
        """Patch t.read so the racer commits inside the cow window."""
        from unittest import mock

        from dataingestionframework_spark.catalog.table import ManagedTable

        real_read = t.read

        def read_then_racer(*a, **kw):
            df = real_read(*a, **kw)
            racer(ManagedTable(t.spark, t.root))
            return df

        return mock.patch.object(t, "read", side_effect=read_then_racer)

    def test_matrix_cow_vs_racer_conflicts(self, spark, tmp_root):
        from dataingestionframework_spark.errors import ConcurrentWriteError

        cow_ops = {
            "delete": lambda t: t.delete(F.col("id") == 1),
            "update": lambda t: t.update(F.col("id") == 2, {"v": F.lit("X")}),
            "replace_where": lambda t: t.replace_where(
                spark.createDataFrame([(3, "R")], "id long, v string"),
                F.col("id") == 3,
            ),
            "merge": lambda t: t.merge(
                spark.createDataFrame([(4, "M")], "id long, v string"),
                on=["id"],
                when_matched_update="all",
            ),
            "restore": lambda t: t.restore(version=0),
        }
        racers = {
            "append": lambda r: r.append(
                spark.createDataFrame([(100, "A")], "id long, v string")
            ),
            "delete": lambda r: r.delete(F.col("id") == 7),
            "truncate": lambda r: r.truncate(),
        }
        for ci, (cname, cop) in enumerate(cow_ops.items()):
            for ri, (rname, rop) in enumerate(racers.items()):
                t = self._table(spark, tmp_root, f"m_{cname}_{rname}")
                before_racer = t.count()
                with self._race(spark, t, rop):
                    with pytest.raises(ConcurrentWriteError):
                        cop(t)
                # the racer's commit survived un-clobbered
                got = t.count()
                expect = {"append": before_racer + 1, "delete": before_racer - 1,
                          "truncate": 0}[rname]
                assert got == expect, f"{cname} vs {rname}: racer lost"
                # and the loser's retry then lands cleanly
                cop(t)

    def test_appends_commute(self, spark, tmp_root):
        t = self._table(spark, tmp_root, "aa")
        with self._race(spark, t, lambda r: r.append(
            spark.createDataFrame([(200, "B")], "id long, v string")
        )):
            pass  # appends never call read(); race manually instead
        from dataingestionframework_spark.catalog.table import ManagedTable

        t2 = ManagedTable(spark, t.root)
        t.append(spark.createDataFrame([(201, "C")], "id long, v string"))
        t2.append(spark.createDataFrame([(202, "D")], "id long, v string"))
        ids = {r.id for r in t.read().collect()}
        assert {201, 202} <= ids  # both blind appends landed

    def test_tag_conflicts_with_nothing(self, spark, tmp_root):
        t = self._table(spark, tmp_root, "tg")
        with self._race(spark, t, lambda r: r.tag("snap")):
            t.delete(F.col("id") == 0)  # no raise: tag is not a commit
        assert t.count() == 7 and "snap" in t.tags()


class _StubValueState:
    def __init__(self):
        self._v = None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _StubMapState:
    def __init__(self):
        self._m = {}

    def updateValue(self, k, v):
        self._m[k] = v

    def keys(self):
        return iter(self._m)


class _StubHandle:
    def getValueState(self, name, schema):
        return _StubValueState()

    def getMapState(self, name, kschema, vschema):
        return _StubMapState()


def _drive_tws_profile(splits):
    """Run the real TWS processor's handleInputRows over a sequence of
    micro-batch pandas frames for one key, returning its final emit."""
    import pandas as pd

    from dataingestionframework_spark.streaming.stateful import (
        _make_profile_processor,
    )

    proc = _make_profile_processor()()
    proc.init(_StubHandle())
    last = None
    for pdf in splits:
        for out in proc.handleInputRows((7,), iter([pdf]), None):
            last = out
    return last


class TestTWSProfileStateAlgebra:
    """DEPLOY.md waiver backing: the TWS transport (protobuf) can't run
    in this container, so the processor's STATE ALGEBRA is proven
    batch-equivalent directly — any micro-batch split of the input
    must converge to the one-pass batch aggregation."""

    def _events(self, seed):
        import random

        rng = random.Random(seed)
        types = ["click", "view", "buy", "scroll"]
        # multiples of 1/64 are exactly representable: float summation
        # is exact in any grouping, so split/one-shot equality is EXACT
        # (with arbitrary reals a 2dp half-point could legitimately
        # round either way depending on accumulation order)
        return [
            (rng.choice(types), rng.randrange(-320, 320) / 64.0)
            for _ in range(rng.randrange(1, 40))
        ]

    def test_any_split_matches_one_shot(self):
        import pandas as pd

        for seed in range(12):
            ev = self._events(seed)
            frame = pd.DataFrame(ev, columns=["event_type", "value"])

            import random

            rng = random.Random(1000 + seed)
            cuts = sorted(
                rng.sample(range(1, len(ev)), min(3, len(ev) - 1))
            ) if len(ev) > 1 else []
            parts = []
            prev = 0
            for c in cuts + [len(ev)]:
                parts.append(frame.iloc[prev:c])
                prev = c
            split_out = _drive_tws_profile(parts)
            one_out = _drive_tws_profile([frame])
            for col in ("n_events", "total_value", "n_types"):
                assert split_out[col][0] == pytest.approx(one_out[col][0])
            # and both equal the batch-fallback aggregation contract
            assert one_out["n_events"][0] == len(ev)
            assert one_out["total_value"][0] == pytest.approx(
                round(sum(v for _, v in ev), 2)
            )
            assert one_out["n_types"][0] == len({t for t, _ in ev})


class TestLangIdNgram:
    """Hashed char-n-gram nearest-centroid language ID."""

    def test_separable_langs_classified(self, spark):
        # two synthetic 'languages' with disjoint character stock:
        # training labels on most rows, predictions checked on ALL rows
        # (including two unlabeled ones the centroids never saw)
        rows = [
            (i, "alpha beta gamma delta words here", "aa") for i in range(5)
        ] + [
            (10 + i, "zzz qqq xxx vvv kkk jjj", "zz") for i in range(5)
        ] + [
            (100, "alpha beta gamma extra", None),   # unlabeled aa-ish
            (101, "zzz qqq vvv unseen", None),       # unlabeled zz-ish
        ]
        from dataingestionframework_spark.operators.text import lang_id_ngram

        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {r.doc_id: (r.lang_pred, r.lang_confidence)
               for r in lang_id_ngram(df).collect()}
        assert all(got[i][0] == "aa" for i in range(5))
        assert all(got[10 + i][0] == "zz" for i in range(5))
        assert got[100][0] == "aa" and got[101][0] == "zz"
        assert got[0][1] > 0.9  # member of its own centroid

    def test_empty_text_is_und(self, spark):
        from dataingestionframework_spark.operators.text import lang_id_ngram

        df = spark.createDataFrame(
            [(0, "alpha beta gamma", "aa"), (1, "", None), (2, None, None)],
            "doc_id long, text string, lang string",
        )
        got = {r.doc_id: (r.lang_pred, r.lang_confidence)
               for r in lang_id_ngram(df).collect()}
        assert got[1] == ("und", 0.0) and got[2] == ("und", 0.0)

    def test_routing_into_adaptive_length_gate(self, spark):
        """The advertised composition: predict language, then gate
        length per PREDICTED language — every row keeps a verdict."""
        from dataingestionframework_spark.operators.text import (
            adaptive_length_filter,
            lang_id_ngram,
        )

        rows = [(i, "alpha beta gamma delta " * (1 + i % 3), "aa") for i in range(6)]
        rows += [(10 + i, "zzz qqq xxx " * (1 + i % 4), "zz") for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        routed = adaptive_length_filter(
            lang_id_ngram(df), group_col="lang_pred"
        )
        out = routed.collect()
        assert len(out) == 14
        assert {r.lang_pred for r in out} == {"aa", "zz"}
        assert all(r.length_pass is not None for r in out)


def test_staged_swap_crash_window_recovers(spark, tmp_root):
    """Crash between commit_store's two renames (store → __old,
    __staging → store) leaves the sink name empty with the data under
    siblings. recover_store must promote the complete staged image
    (it carries the commit mark) so the next forget heals instead of
    failing or treating the sink as absent."""
    from dataingestionframework_spark.ingest.corpus import forget_documents
    from dataingestionframework_spark.session import (
        _write_text_file,
        recover_store,
    )

    sink = f"{tmp_root}/sink"
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    ).write.parquet(sink)
    # simulate the crash window: post-forget image staged and marked
    # committed, sink renamed aside, promotion never happened
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path
    fs = jpath(sink).getFileSystem(sc._jsc.hadoopConfiguration())
    spark.read.parquet(sink).filter("doc_id <> 3").write.parquet(sink + "__staging")
    _write_text_file(spark, sink + "__staging/_GRAFT_COMMITTED", "1\n")
    assert fs.rename(jpath(sink), jpath(sink + "__old"))
    assert not fs.exists(jpath(sink))

    assert recover_store(spark, sink) == "promoted"  # heals: staged wins
    assert {r.doc_id for r in spark.read.parquet(sink).collect()} == {0, 1, 2, 4, 5}
    # and a real forget run right after the heal works end-to-end
    removed = forget_documents(spark, [0], sink)
    assert removed["sink"] == 1
    assert not fs.exists(jpath(sink + "__old"))


def test_kmeans_stats_store_survives_transient_probe(spark, tmp_root):
    """The stats store merge must use an existence probe, not a bare
    except: merging twice accumulates; the second merge must READ the
    first batch's statistics rather than silently resetting."""
    from dataingestionframework_spark.operators.similarity import (
        kmeans_stats_merge_into_store,
    )

    store = f"{tmp_root}/kstats"
    cents = {0: [1.0, 0.0], 1: [0.0, 1.0]}  # cosine-assigns by axis
    b1 = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 3.0])], "vec_id long, embedding array<float>"
    )
    b2 = spark.createDataFrame(
        [(3, [4.0, 1.0])], "vec_id long, embedding array<float>"
    )
    kmeans_stats_merge_into_store(b1, cents, store)
    kmeans_stats_merge_into_store(b2, cents, store)
    rows = {(r.cluster_id, r.pos): (r.s, r.m) for r in spark.read.parquet(store).collect()}
    # cluster 0 accumulated BOTH batches' vectors (2,0) and (4,1)
    assert rows[(0, 0)] == (6.0, 2) and rows[(0, 1)] == (1.0, 2)
    assert rows[(1, 1)] == (3.0, 1)


def test_adaptive_length_filter_keeps_null_group_rows(spark):
    """NULL group_col rows must not vanish: they form their own group
    (null-safe join), get thresholds from their peers, and receive a
    length_pass verdict like everyone else."""
    from dataingestionframework_spark.operators.text import adaptive_length_filter

    df = spark.createDataFrame(
        [
            (0, "en", "one two three"),
            (1, "en", "one two three four five"),
            (2, None, "a b"),
            (3, None, "a b c d e f"),
            (4, None, "a b c d"),
        ],
        "doc_id int, lang string, text string",
    )
    out = adaptive_length_filter(df, group_col="lang").collect()
    assert len(out) == 5  # no silent drop
    by_id = {r.doc_id: r for r in out}
    assert by_id[2].length_pass is not None
    # NULL group computed against its own 3-row percentile band, not en's
    assert by_id[2].len_lo != by_id[0].len_lo
    # verdicts are real: middle-length null doc passes its own band
    assert by_id[4].length_pass


def test_xml_parse_handles_entities_and_garbage(spark):
    """from_xml must decode standard entities and return NULL fields
    (not throw) on malformed XML — the PERMISSIVE contract the
    ingestion matrix promises for every format."""
    df = spark.createDataFrame(
        [
            (0, "<e><t>a &amp; b &lt;tag&gt;</t><n>7</n></e>"),
            (1, "<e><t>plain</t><n>9</n></e>"),
            (2, "<e><t>broken"),          # malformed: no throw
            (3, None),                     # NULL input
        ],
        "id long, xml string",
    )
    out = df.select(
        "id", F.from_xml("xml", "t string, n long").alias("p")
    ).select("id", "p.t", "p.n")
    got = {r.id: (r.t, r.n) for r in out.collect()}
    assert got[0] == ("a & b <tag>", 7)   # entities decoded
    assert got[1] == ("plain", 9)
    assert got[2] == (None, None) or got[2][1] is None
    assert got[3] == (None, None)
