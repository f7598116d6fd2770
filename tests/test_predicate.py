"""Unit tests for the predicate AST, WHERE parser, and zone-map rules
(the reference's pruning language, SURVEY §2.2 P1-P14)."""

from __future__ import annotations

from columnar_database_project_spark.plans.predicate import (
    And,
    Between,
    Cmp,
    ColumnStats,
    InList,
    IsNotNull,
    IsNull,
    Not,
    Or,
    TruePred,
)
from columnar_database_project_spark.plans.sql_where import (
    WhereParseError,
    extract_where,
    parse_conjuncts,
    parse_where,
)

STATS = {
    "a": ColumnStats(min=10, max=20, null_count=0, num_values=100),
    "b": ColumnStats(min=1.5, max=2.5, null_count=5, num_values=100),
    "s": ColumnStats(min="apple", max="mango", null_count=100, num_values=100),
}


class TestZoneMapRules:
    def test_eq(self):
        assert Cmp("=", "a", 15).may_match(STATS)
        assert not Cmp("=", "a", 25).may_match(STATS)
        assert not Cmp("=", "a", 5).may_match(STATS)

    def test_neq_prunes_constant_blocks(self):
        const = {"a": ColumnStats(min=7, max=7)}
        assert not Cmp("!=", "a", 7).may_match(const)
        assert Cmp("!=", "a", 15).may_match(STATS)

    def test_range_ops(self):
        assert Cmp(">", "a", 19).may_match(STATS)
        assert not Cmp(">", "a", 20).may_match(STATS)
        assert Cmp(">=", "a", 20).may_match(STATS)
        assert not Cmp(">=", "a", 21).may_match(STATS)
        assert Cmp("<", "a", 11).may_match(STATS)
        assert not Cmp("<", "a", 10).may_match(STATS)
        assert Cmp("<=", "a", 10).may_match(STATS)
        assert not Cmp("<=", "a", 9).may_match(STATS)

    def test_between(self):
        assert Between("a", 18, 24).may_match(STATS)
        assert not Between("a", 21, 24).may_match(STATS)
        assert not Between("a", 1, 9).may_match(STATS)

    def test_in(self):
        assert InList("a", (1, 15, 99)).may_match(STATS)
        assert not InList("a", (1, 99)).may_match(STATS)

    def test_and_or(self):
        yes = Cmp("=", "a", 15)
        no = Cmp("=", "a", 99)
        assert And(yes, yes).may_match(STATS)
        assert not And(yes, no).may_match(STATS)
        assert Or(no, yes).may_match(STATS)
        assert not Or(no, no).may_match(STATS)

    def test_unknown_column_is_maybe(self):
        assert Cmp("=", "zzz", 1).may_match(STATS)

    def test_type_mismatch_is_maybe_not_crash(self):
        # reference would raise on str-vs-int compare (SURVEY §1.2);
        # we return MAYBE
        assert Cmp(">", "s", 5).may_match(STATS)
        assert Between("s", 1, 2).may_match(STATS)

    def test_string_lexicographic(self):
        assert Cmp(">=", "s", "banana").may_match(STATS)
        assert not Cmp(">", "s", "zebra").may_match(STATS)

    def test_null_rules(self):
        assert not IsNull("a").may_match(STATS)        # null_count == 0
        assert IsNull("b").may_match(STATS)
        assert IsNotNull("a").may_match(STATS)
        assert not IsNotNull("s").may_match(STATS)     # all null

    def test_not(self):
        assert not Not(Cmp("<=", "a", 25)).may_match(STATS)   # a > 25 impossible
        assert Not(Cmp("=", "a", 99)).may_match(STATS)

    def test_true_pred(self):
        assert TruePred().may_match({})


class TestTemporalAlignment:
    """Parquet footers hand back datetime/date stats while SQL
    literals are strings; the zone map must still prune (the gap that
    made every date-window predicate a MAYBE until r7)."""

    import datetime as dt

    TS = {
        "ts": ColumnStats(
            min=dt.datetime(1994, 1, 1), max=dt.datetime(1994, 6, 30)
        ),
        "d": ColumnStats(min=dt.date(1994, 1, 1), max=dt.date(1994, 6, 30)),
        "aware": ColumnStats(
            min=dt.datetime(1994, 1, 1, tzinfo=dt.timezone.utc),
            max=dt.datetime(1994, 6, 30, tzinfo=dt.timezone.utc),
        ),
    }

    def test_datetime_stat_vs_string_literal_prunes(self):
        assert not Cmp(">", "ts", "1994-07-01").may_match(self.TS)
        assert not Cmp("<", "ts", "1993-12-31 23:59:59").may_match(self.TS)
        assert Cmp(">=", "ts", "1994-06-30 00:00:00").may_match(self.TS)
        assert not Between("ts", "1995-01-01", "1995-12-31").may_match(self.TS)
        assert Between("ts", "1994-06-01", "1995-01-01").may_match(self.TS)
        assert not InList("ts", ("1999-01-01",)).may_match(self.TS)
        assert InList("ts", ("1999-01-01", "1994-03-15")).may_match(self.TS)

    def test_date_stat_vs_timestamp_literal_is_midnight_cast(self):
        # CAST(date AS timestamp) = midnight: a 12:00 literal on the
        # max date is strictly after every value in the block
        assert not Cmp(">", "d", "1994-06-30 12:00:00").may_match(self.TS)
        # ...but `<` against the same literal must NOT prune (midnight
        # of the max day is before 12:00) — the soundness case a naive
        # date-truncation coercion would get wrong
        assert Cmp("<", "d", "1994-06-30 12:00:00").may_match(self.TS)

    def test_aware_utc_stats_prune(self):
        # TIMESTAMP_MICROS footers are isAdjustedToUTC → pyarrow hands
        # back aware datetimes; the engine session zone is pinned UTC,
        # so naive literals align exactly and pruning still engages
        assert not Cmp(">", "aware", "1999-01-01").may_match(self.TS)
        assert Cmp(">=", "aware", "1994-06-30").may_match(self.TS)

    def test_garbage_string_is_maybe(self):
        assert Cmp(">", "ts", "not-a-date").may_match(self.TS)


class TestWhereParser:
    def test_simple(self):
        p = parse_where("a >= 5")
        assert p == Cmp(">=", "a", 5)

    def test_between_and_in(self):
        p = parse_where("a BETWEEN 18 AND 24 AND b IN (1, 2.5, 'x')")
        assert p == And(Between("a", 18, 24), InList("b", (1, 2.5, "x")))

    def test_precedence_and_over_or(self):
        p = parse_where("a = 1 OR a = 2 AND b = 3")
        assert isinstance(p, Or)
        assert p.left == Cmp("=", "a", 1)

    def test_parens(self):
        p = parse_where("(a = 1 OR a = 2) AND b = 3")
        assert isinstance(p, And)

    def test_literal_on_left_normalized(self):
        assert parse_where("5 < a") == Cmp(">", "a", 5)
        assert parse_where("5 = a") == Cmp("=", "a", 5)

    def test_strings_and_escapes(self):
        assert parse_where("name = 'O''Brien'") == Cmp("=", "name", "O'Brien")

    def test_is_null(self):
        assert parse_where("a IS NULL") == IsNull("a")
        assert parse_where("a IS NOT NULL") == IsNotNull("a")

    def test_not_between(self):
        assert parse_where("a NOT BETWEEN 1 AND 2") == Not(Between("a", 1, 2))

    def test_neq_forms(self):
        assert parse_where("a != 3") == parse_where("a <> 3")

    def test_unsupported_raises(self):
        import pytest

        with pytest.raises(WhereParseError):
            parse_where("lower(a) = 'x'")

    def test_extract_where_full_sql(self):
        p = extract_where(
            "SELECT x, count(*) FROM t WHERE a BETWEEN 1 AND 2 GROUP BY x LIMIT 5"
        )
        assert p == Between("a", 1, 2)

    def test_extract_no_where(self):
        assert extract_where("SELECT * FROM t") == TruePred()

    def test_extract_unparseable_falls_back(self):
        assert extract_where("SELECT * FROM t WHERE my_udf(a) = 3") == TruePred()

    def test_extract_keeps_parseable_conjuncts(self):
        p = extract_where("SELECT * FROM t WHERE a % 2 = 1 AND b = 3 ORDER BY a")
        assert p == Cmp("=", "b", 3)


class TestConjuncts:
    """``parse_conjuncts`` drops only the top-level AND conjuncts the
    grammar does not cover."""

    def test_whole_clause_in_grammar_is_parse_where(self):
        c = "a BETWEEN 1 AND 2 AND (b = 1 OR b = 2)"
        assert parse_conjuncts(c) == parse_where(c)

    def test_unparseable_conjunct_is_dropped(self):
        assert parse_conjuncts("k BETWEEN 30 AND 31 AND k % 2 = 5") == Between("k", 30, 31)
        assert parse_conjuncts("a = 1 AND lower(s) = 'x' AND b < 2") == And(
            Cmp("=", "a", 1), Cmp("<", "b", 2)
        )

    def test_between_only(self):
        # the AND of each BETWEEN stays inside its conjunct
        assert parse_conjuncts(
            "a BETWEEN 1 AND 2 AND k % 2 = 0 AND a NOT BETWEEN 5 AND 6"
        ) == And(Between("a", 1, 2), Not(Between("a", 5, 6)))
        assert parse_conjuncts("k % 2 BETWEEN 0 AND 1") == TruePred()

    def test_top_level_or_is_not_split(self):
        # a AND b OR c is (a AND b) OR c: a alone would prune c's rows
        assert parse_conjuncts("a = 1 AND k % 2 = 0 OR b = 3") == TruePred()
        assert parse_conjuncts("(a = 1 OR b = 3) AND k % 2 = 0") == Or(
            Cmp("=", "a", 1), Cmp("=", "b", 3)
        )

    def test_and_inside_literals_parens_and_case_is_not_split(self):
        assert parse_conjuncts("s = 'x AND y' AND k % 2 = 0") == Cmp("=", "s", "x AND y")
        assert parse_conjuncts("(a = 1 AND k % 2 = 0) AND b = 2") == Cmp("=", "b", 2)
        assert parse_conjuncts(
            "CASE WHEN a = 1 AND b = 2 THEN false ELSE true END AND c = 3"
        ) == Cmp("=", "c", 3)

    def test_text_that_runs_past_the_clause_is_not_split(self):
        for c in (
            "a = 1 AND k % 2 = 0 UNION ALL SELECT * FROM t WHERE b = 2",
            "a = 1 AND k % 2 = 0) AS x",
            "a = 1 AND s = 'open",
        ):
            assert parse_conjuncts(c) == TruePred()

    def test_comments_and_backslashes_are_not_split(self):
        # Spark drops a comment and reads \' as a quote inside the
        # literal, so no "k = 99" below is a conjunct there
        for c in (
            "k = 5 -- AND k = 99",
            "k % 2 = 1 /* AND k = 99 */",
            "s = 'a\\' AND k = 99 AND \\''",
        ):
            assert parse_conjuncts(c) == TruePred()
        # inside a literal, -- and /* are text
        assert parse_conjuncts("s = 'a--b/*' AND k % 2 = 0") == Cmp("=", "s", "a--b/*")

    def test_backslash_in_literal_is_not_parsed(self):
        import pytest

        # Spark reads 'a\\b' as a\b: a literal read otherwise prunes its rows
        with pytest.raises(WhereParseError):
            parse_where("s = 'a\\\\b'")
        assert parse_conjuncts("s = 'a\\\\b' AND k = 1") == TruePred()
        assert extract_where("SELECT * FROM t WHERE s = 'a\\\\b'") == TruePred()
