"""Expected χ² output computed apart from the program, with DuckDB.

    python3 perfbench/oracle.py <corpus_dir>

reads the JSONL files gen.py wrote under <corpus_dir> and writes
<corpus_dir>/expected.txt (the lines ChiSquareCli must print) and
<corpus_dir>/expected.json (counts the benchmark checks besides the lines).
Before that it checks itself on the hand-verified micro-corpus of
FIXTURES.md section 2.

The SQL restates the documented semantics on its own terms rather than
reusing the program's oracle strings:
  * a line is a record when it is valid JSON; reviewText and category must
    both be present and non-empty;
  * text is lowercased and split on the delimiter class below; a token is
    kept when 1 < length < 50 and it is not a stopword; each document
    counts a term once;
  * A/B/C/D/N per (term, category) pair that occurs; χ² in double, in the
    operation order n*diff*diff/denom with denom = (a+b)(a+c)(b+d)(c+d),
    0 when denom is 0;
  * top k per category by χ² descending, ties by term ascending;
  * one line per category in ascending order, "<category> term:χ² ...",
    then the sorted dictionary of selected terms.
"""
import glob
import json
import os
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb

K = 75
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by", "this", "that", "be", "are"]
# Whitespace, digits and ()[]{}.!?,;:+=-_"'`~#@&*%€$§\/ as an RE2 class.
DELIMITERS = r"""[\s\d()\[\]{}.!?,;:+=\-_"'`~#@&*%€$§\\/]+"""

# Each statement materialises one table, so the counts and the top-k
# share one tokenisation.
STATEMENTS = [
    """CREATE TABLE raw AS
  SELECT line FROM read_csv($files, columns = {'line': 'VARCHAR'},
    delim = $sep, quote = '', escape = '', header = false,
    auto_detect = false, new_line = '\\n')""",
    """CREATE TABLE admitted AS
  SELECT row_number() OVER () AS doc, text, category FROM (
    SELECT CASE WHEN json_valid(line) THEN line ->> '$.reviewText' END AS text,
           CASE WHEN json_valid(line) THEN line ->> '$.category' END AS category
    FROM raw)
  WHERE text <> '' AND category <> ''""",
    """CREATE TABLE toks AS
  SELECT DISTINCT doc, category, term FROM (
    SELECT doc, category,
           unnest(regexp_split_to_array(lower(text), {delim})) AS term
    FROM admitted)
  WHERE length(term) > 1 AND length(term) < 50
    AND NOT list_contains({stop}, term)""",
]
TOP_SQL = """
WITH term_cat AS (
  SELECT term, category, count(*) AS a FROM toks GROUP BY term, category
), term_docs AS (
  SELECT term, sum(a) AS t_total FROM term_cat GROUP BY term
), cat_docs AS (
  SELECT category, count(*) AS c_total FROM admitted GROUP BY category
), total AS (
  SELECT count(*) AS n FROM admitted
), cells AS (
  SELECT term, category,
         CAST(a AS DOUBLE) AS a,
         CAST(t_total - a AS DOUBLE) AS b,
         CAST(c_total - a AS DOUBLE) AS c,
         CAST(n - t_total - c_total + a AS DOUBLE) AS d,
         CAST(n AS DOUBLE) AS n
  FROM term_cat JOIN term_docs USING (term) JOIN cat_docs USING (category)
  CROSS JOIN total
), scored AS (
  SELECT term, category,
         CASE WHEN (a + b) * (a + c) * (b + d) * (c + d) = 0 THEN 0.0
              ELSE n * (a * d - b * c) * (a * d - b * c)
                   / ((a + b) * (a + c) * (b + d) * (c + d)) END AS chi2
  FROM cells
), ranked AS (
  SELECT category, term, chi2,
         row_number() OVER (PARTITION BY category
                            ORDER BY chi2 DESC, term ASC) AS rank
  FROM scored
)
SELECT category, term, chi2 FROM ranked WHERE rank <= {k}
ORDER BY category, rank
"""
COUNTS_SQL = """SELECT (SELECT count(*) FROM admitted),
  (SELECT count(*) FROM toks), (SELECT count(*) FROM raw)"""


def fmt(x):
    """Java's %.6f: half-up rounding of the shortest decimal form of x.
    (C-style printf rounds the exact binary value instead, which differs
    on ties such as 1/128 = 0.0078125.)"""
    return str(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def literal(s):
    return "'" + s.replace("'", "''") + "'"


def lines_for(files):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(STATEMENTS[0], dict(files=files, sep=chr(31)))
    con.execute(STATEMENTS[1])
    # Constants go in as literals: a bound parameter is not constant-folded,
    # and DuckDB would compile the pattern once per row.
    con.execute(STATEMENTS[2].replace("{delim}", literal(DELIMITERS))
                .replace("{stop}", "[" + ",".join(map(literal, STOPWORDS)) + "]"))
    rows = con.execute(TOP_SQL.replace("{k}", str(K))).fetchall()
    out, by_cat = [], {}
    for cat, t, chi2 in rows:
        by_cat.setdefault(cat, []).append(f"{t}:{fmt(chi2)}")
    # Code-point order equals the program's UTF-8 byte order for these texts.
    for cat in sorted(by_cat):
        out.append(cat + " " + " ".join(by_cat[cat]))
    out.append(" ".join(sorted({t for _, t, _ in rows})))
    counts = con.execute(COUNTS_SQL).fetchone()
    return out, dict(zip(("admitted", "tokens", "lines"), counts))


def corpus_files(corpus_dir):
    files = sorted(glob.glob(os.path.join(corpus_dir, "days", "*.jsonl")))
    if not files:
        raise SystemExit(f"no JSONL corpus under {corpus_dir}")
    return files


MICRO = [
    {"reviewText": "apple banana", "category": "X"},
    {"reviewText": "apple", "category": "X"},
    {"reviewText": "banana", "category": "Y"},
    {"reviewText": "cherry", "category": "Y"},
]
MICRO_LINES = ["X apple:4.000000 banana:0.000000",
               "Y cherry:1.333333 banana:0.000000",
               "apple banana cherry"]


def self_check(scratch_dir):
    """The oracle must reproduce FIXTURES.md section 2 exactly."""
    path = os.path.join(scratch_dir, "micro.jsonl")
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in MICRO) + "\n")
    got, counts = lines_for([path])
    os.remove(path)
    if got != MICRO_LINES or counts["admitted"] != 4 or counts["tokens"] != 5:
        raise SystemExit(f"oracle self-check failed: {got} {counts}")


def remake(corpus_dir):
    self_check(corpus_dir)
    lines, counts = lines_for(corpus_files(corpus_dir))
    with open(os.path.join(corpus_dir, "expected.txt"), "w",
              encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(corpus_dir, "expected.json"), "w") as f:
        json.dump(dict(counts, output_lines=len(lines), k=K), f)
    return counts


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: oracle.py <corpus_dir>")
    print(json.dumps(remake(sys.argv[1])))
