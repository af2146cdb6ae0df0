"""Unit tests for the quote-aware SQL text helpers (no Spark needed)."""

from wren_engine_spark.plans.sqltext import (
    CODE,
    LITERAL,
    identifiers,
    lex,
    rewrite_outside_literals,
)


def _literals(sql):
    return [s for s, kind in lex(sql) if kind == LITERAL]


class TestSplitLiterals:
    """``lex`` splits SQL text into code and string-literal spans."""

    def test_plain(self):
        assert lex("SELECT 1") == [("SELECT 1", CODE)]

    def test_single_literal(self):
        assert lex("a 'b' c") == [("a ", CODE), ("'b'", LITERAL), (" c", CODE)]

    def test_escaped_quote(self):
        # '' is an escaped quote INSIDE one literal
        segs = lex("x = 'it''s' AND y")
        assert segs == [("x = ", CODE), ("'it''s'", LITERAL), (" AND y", CODE)]

    def test_adjacent_literals(self):
        assert _literals("'a' 'b'") == ["'a'", "'b'"]

    def test_unterminated_literal(self):
        segs = lex("a 'oops")
        assert segs == [("a ", CODE), ("'oops", LITERAL)]

    def test_roundtrip(self):
        sql = "SELECT 'he said \"hi\"', x FROM t WHERE s = 'don''t'"
        assert "".join(s for s, _ in lex(sql)) == sql


class TestRewriteOutsideLiterals:
    def test_literal_content_untouched(self):
        import re

        out = rewrite_outside_literals(
            'SELECT "col" FROM t WHERE note = \'he said "hi"\'',
            lambda s: re.sub(r'"([^"]+)"', r"`\1`", s),
        )
        assert out == 'SELECT `col` FROM t WHERE note = \'he said "hi"\''


class TestIdentifiers:
    def test_literals_excluded(self):
        ids = identifiers("SELECT a FROM t WHERE note = 'secret_col'")
        assert "a" in ids and "t" in ids and "secret_col" not in ids

    def test_quoted_forms(self):
        ids = identifiers('SELECT `Sp aced`, "Quo ted" FROM t')
        assert "sp aced" in ids and "quo ted" in ids

    def test_case_folded(self):
        assert "total" in identifiers("SELECT Total FROM m")


class TestCommentsAndEscapes:
    def test_apostrophe_in_comment_not_a_literal(self):
        # "customer's" must not open a phantom literal poisoning the rest
        sql = 'SELECT a FROM "t" -- customer\'s orders\nWHERE "t".b = 1'
        ids = identifiers(sql)
        assert {"a", "t", "b"} <= ids
        assert "orders" not in ids  # comment content is not a reference
        import re

        out = rewrite_outside_literals(
            sql, lambda s: re.sub(r'"([^"]+)"', r"`\1`", s)
        )
        assert out.endswith("WHERE `t`.b = 1")  # rewrite continues past comment

    def test_backslash_escaped_quote(self):
        # Spark's default parser honors \' inside literals
        assert _literals(r"SELECT 'it\'s' AS v, x") == [r"'it\'s'"]
        assert "x" in identifiers(r"SELECT 'it\'s' AS v, x")

    def test_identifier_in_block_comment_excluded(self):
        assert "hidden" not in identifiers("SELECT a /* hidden */ FROM t")


class TestQuotedIdentifiersOpaque:
    def test_apostrophe_in_double_quoted_identifier(self):
        # the apostrophe inside "a'b" must not open a phantom literal
        import re

        sql = "SELECT \"a'b\" AS x, 'lit' FROM m"
        assert _literals(sql) == ["'lit'"]
        out = rewrite_outside_literals(
            sql, lambda s: re.sub(r'"([^"]+)"', r"`\1`", s)
        )
        assert out == "SELECT `a'b` AS x, 'lit' FROM m"

    def test_apostrophe_in_backtick_identifier(self):
        sql = "SELECT `it's` FROM m WHERE v = 'x'"
        assert _literals(sql) == ["'x'"]
        assert "it's" in identifiers(sql)

    def test_dashes_in_quoted_identifier_not_a_comment(self):
        sql = 'SELECT "we--ird", b FROM m'
        assert {"we--ird", "b", "m"} <= identifiers(sql)

    def test_doubled_quote_escape_in_identifier(self):
        sql = 'SELECT "sa""y", x FROM m'
        ids = identifiers(sql)
        assert 'sa"y' in ids and "x" in ids

    def test_roundtrip_with_quoted_identifiers(self):
        sql = "SELECT \"a'b\", `c'd`, 'e\"f' FROM t -- note's\nWHERE 1=1"
        assert "".join(s for s, _ in lex(sql)) == sql
