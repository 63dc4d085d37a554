"""Line-level (boilerplate) dedup — operators/dedup.py common_lines /
line_dedup: hand cases, cell-exact DuckDB oracle on a deterministic
multi-line corpus, row-count stability, and a plan guard."""

from __future__ import annotations

import pandas as pd

BOILER = ["Cookie notice: we use cookies",
          "Copyright 2026 Example Corp",
          "Home | About | Contact"]


def _line_corpus(n: int = 120) -> pd.DataFrame:
    """Deterministic multi-line docs: shared boilerplate lines on
    arithmetic schedules, unique body lines, in-doc duplicate lines,
    and a few docs that are 100% boilerplate."""
    rows = []
    for i in range(n):
        lines = []
        if i % 2 == 0:
            lines.append(BOILER[0])
        if i % 3 == 0:
            lines.append(BOILER[1])
        if i % 60 == 7:        # all-boilerplate docs
            lines.append(BOILER[2])
        else:
            lines.append(f"unique body {i} alpha {i * 17 % 101}")
            if i % 7 == 0:     # blank line = paragraph break (kept!)
                lines.append("")
            if i % 4 == 0:     # in-doc duplicate of a boilerplate line
                lines.append(BOILER[0])
            if i % 11 == 0:    # whitespace-only line (also kept)
                lines.append("  ")
            lines.append(f"unique body {i} beta {i * 29 % 103}")
        if i % 5 == 0:
            lines.append(BOILER[2])
        rows.append((i, "\n".join(lines)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_line_dedup_hand_case(spark):
    from pdf_parser_spark.operators.dedup import common_lines, line_dedup

    docs = spark.createDataFrame(
        [(0, "nav bar\nreal content zero\nfooter"),
         (1, "nav bar\nreal content one\nfooter"),
         (2, "only original text here"),
         (3, "nav bar\nfooter\nnav bar")],
        "doc_id long, text string")
    cl = {r["line"]: r["n_docs"] for r in common_lines(docs).collect()}
    # in-doc repeat in doc 3 must not inflate the distinct-doc count
    assert cl == {"nav bar": 3, "footer": 3}

    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert got[0]["text_clean"] == "real content zero"
    assert got[1]["text_clean"] == "real content one"
    assert got[2]["text_clean"] == "only original text here"
    # every occurrence removed, empty doc survives with stable row
    assert got[3]["text_clean"] == ""
    assert (got[3]["n_lines"], got[3]["n_removed"]) == (3, 3)
    assert (got[0]["n_lines"], got[0]["n_removed"]) == (3, 2)


def test_line_dedup_matches_duckdb_oracle(spark):
    import duckdb

    from pdf_parser_spark.operators.dedup import line_dedup

    pdf = _line_corpus()
    docs = spark.createDataFrame(pdf)
    got = (line_dedup(docs, min_docs=2)
           .toPandas().sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.sql(r"""
WITH sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
l AS (SELECT doc_id, i AS pos, ls[i + 1] AS line
      FROM sp, LATERAL (SELECT unnest(range(len(ls))) AS i) r),
census AS (SELECT line FROM l WHERE NOT regexp_matches(line, '^\s*$')
           GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT * FROM l ANTI JOIN census USING (line)),
reb AS (SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS text_clean,
               count(*) AS kept_n
        FROM kept GROUP BY doc_id)
SELECT sp.doc_id,
       coalesce(reb.text_clean, '') AS text_clean,
       len(sp.ls) AS n_lines,
       len(sp.ls) - coalesce(reb.kept_n, 0) AS n_removed
FROM sp LEFT JOIN reb USING (doc_id) ORDER BY sp.doc_id
""").df().reset_index(drop=True)
    assert len(got) == len(want) == len(pdf)
    for c in ("doc_id", "text_clean", "n_lines", "n_removed"):
        assert (got[c].values == want[c].values).all(), c
    # the corpus must exercise both removal and all-boilerplate docs
    assert (want["n_removed"] > 0).any()
    assert (want["text_clean"] == "").any()
    # and blank lines must have survived dedup somewhere
    assert want["text_clean"].str.contains("\n\n").any()


def test_line_dedup_keeps_blank_lines(spark):
    """Blank/whitespace-only lines occur in >= min_docs docs in any
    corpus with paragraphs; they must be excluded from the census so
    paragraph structure survives (ADVICE r4)."""
    from pdf_parser_spark.operators.dedup import common_lines, line_dedup

    docs = spark.createDataFrame(
        [(0, "nav bar\n\npara one\n\npara two"),
         (1, "nav bar\n\nother text\n  \nmore text"),
         (4, "nav bar\n\t\ntabbed para one\n\t\ntabbed para two"),
         (5, "nav bar\n\t\nanother tabbed doc"),
         (2, "nav bar\n\nthird doc")],
        "doc_id long, text string")
    cl = {r["line"] for r in common_lines(docs).collect()}
    assert cl == {"nav bar"}
    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert got[0]["text_clean"] == "\npara one\n\npara two"
    assert got[1]["text_clean"] == "\nother text\n  \nmore text"
    # tab-only lines are whitespace too (\s, not just spaces) — the
    # round-5 review caught trim() stripping only ASCII spaces
    assert got[4]["text_clean"] == "\t\ntabbed para one\n\t\ntabbed para two"
    assert got[0]["n_removed"] == 1


def test_line_dedup_plan_no_cartesian(spark):
    from pdf_parser_spark.operators.dedup import line_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
