"""MR-parity queries: the reference's two example jobs run through the
MapReduceJob layer (not the idiomatic DataFrame pipelines — those live in
operators/wordcount.py and operators/log_analysis.py; an internal
differential test in tests/test_mapreduce.py ties the two together).

mr_wordcount keeps the reference's artifacts on purpose: tokens that strip
to '' are counted (word_count.go:19-22 has no filter), and r_id exposes the
first-char-mod-26 parity partitioner (sn/mr_actions.go:226-229).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.url import crawler_logs
from ..mapreduce import MapReduceJob
from ..mapreduce.plugins import (
    LOG_ANALYZER_R,
    WORD_COUNT_R,
    log_analyzer_map,
    log_analyzer_reduce,
    word_count_map,
    word_count_reduce,
)
from ..registry import query
from ..tables import spread_frame, table


def _documents_as_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents rows as the reference's (file, line_number, line) input
    shape — each document is one text line of its own 'file'."""
    # UNSPREAD (r16 disposition of the r15 spread probe): the driver
    # measured mr_wordcount 0.856 -> 0.979 s after r15 added a spread
    # here, and the r16 re-run of the interleaved A/B (10 reps, quiet
    # box, 32 cores) AGREES with the driver — unspread 830 ms vs spread
    # 1035 ms median (+24.7%): wordcount's tokenize+explode map phase is
    # too light to fund the exchange, same verdict as the idiomatic
    # wordcount's rejected spread. mr_log_analyzer's regexp-dense map
    # KEEPS its spread (re-measured -26.5% the same session).
    return table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("file"),
        F.lit(0).cast("long").alias("line_number"),
        F.col("text").alias("line"),
    )


MR_WORDCOUNT_ORACLE = """
WITH words AS (
  SELECT regexp_replace(t.tok, '[^a-zA-Z0-9]+', '', 'g') AS word
  FROM documents, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
  WHERE length(trim(text)) > 0
)
SELECT
  CAST(CASE WHEN word = '' THEN 0 ELSE ascii(substr(word, 1, 1)) % 26 END AS INTEGER) AS r_id,
  printf('%-12s :: %4d', word, COUNT(*)) AS line
FROM words
GROUP BY word
"""


@query("mr_wordcount", oracle=MR_WORDCOUNT_ORACLE)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word_count.go through the parity engine. The oracle can state global
    per-word counts because the parity partitioner never splits one word
    across reducers — per-partition sums == global sums (R=26,
    word_count.go:10)."""
    job = MapReduceJob(
        "mr_wordcount", word_count_map, word_count_reduce, r=WORD_COUNT_R
    )
    return job.run(_documents_as_lines(spark, sf_dir)).select("r_id", "line")


# Full SQL oracle for the per-partition summaries (SURVEY.md §7.5 #1): the
# parity partitioner routes every key by its first character — the crawler
# name — so partition r_id = ascii(crawler[0]) % 10, and each partition's
# reduce is expressible as per-r_id aggregation + windowed top-k + UNION
# ALL line assembly. Normalization below replicates the PLUGIN's rules
# (log_analyzer.go:20-57: first-CHAR numeric test, path without leading
# slash, '/'/'#'/'?' trims only at index > 0), which differ in corners
# from the idiomatic normalize_cols.
from ..functions.url import CRAWLER_LOGS_SQL  # noqa: E402

MR_LOG_ANALYZER_ORACLE = f"""
WITH raw AS ({CRAWLER_LOGS_SQL}),
stripped AS (
  SELECT crawler, regexp_replace(url, '^https?://', '') AS u FROM raw
),
parts AS (
  SELECT crawler,
    CASE WHEN strpos(u, '/') > 1 THEN substr(u, 1, strpos(u, '/') - 1) ELSE u END AS dom0,
    CASE WHEN strpos(u, '/') > 1 THEN substr(u, strpos(u, '/') + 1) ELSE '' END AS url0
  FROM stripped
),
normed AS (
  SELECT crawler, url0,
    CASE WHEN substr(dom0, 1, 1) BETWEEN '0' AND '9'
         THEN CASE WHEN strpos(reverse(dom0), ':') > 0
                        AND length(dom0) - strpos(reverse(dom0), ':') + 1 > 1
                   THEN substr(dom0, 1, length(dom0) - strpos(reverse(dom0), ':'))
                   ELSE dom0 END
         ELSE CASE WHEN (length(dom0) - length(replace(dom0, '.', ''))) > 1
                   THEN substr(dom0, strpos(dom0, '.') + 1)
                   ELSE dom0 END
    END AS dom
  FROM parts
  WHERE dom0 <> ''
),
keys AS (
  SELECT crawler, dom,
    -- only markers at 0-based index > 0 trim (find(x) > 0 in the plugin):
    -- each marker is excluded INDIVIDUALLY before LEAST, so '#' at index
    -- 0 with '?' later still trims at the '?' (a bare LEAST(...) > 1
    -- guard would wrongly skip that case)
    CASE WHEN url0 = '' THEN ''
         WHEN LEAST(CASE WHEN strpos(url0, '#') > 1 THEN strpos(url0, '#') END,
                    CASE WHEN strpos(url0, '?') > 1 THEN strpos(url0, '?') END) IS NOT NULL
         THEN substr(url0, 1, LEAST(CASE WHEN strpos(url0, '#') > 1 THEN strpos(url0, '#') END,
                                    CASE WHEN strpos(url0, '?') > 1 THEN strpos(url0, '?') END) - 1)
         ELSE url0 END AS url1,
    CAST(ascii(lower(substr(crawler, 1, 1))) % 10 AS INTEGER) AS r_id
  FROM normed
),
dom_counts AS (SELECT r_id, dom, COUNT(*) AS cnt FROM keys GROUP BY 1, 2),
crw_counts AS (SELECT r_id, crawler, COUNT(*) AS cnt FROM keys GROUP BY 1, 2),
stats AS (
  SELECT r_id,
    COUNT(DISTINCT dom) AS n_dom,
    COUNT(DISTINCT CASE WHEN url1 <> '' THEN dom || url1 END) AS n_url,
    COUNT(DISTINCT crawler) AS n_crw
  FROM keys GROUP BY r_id
)
SELECT CAST(r_id AS INTEGER) AS r_id, CAST(0 AS INTEGER) AS seq,
       printf('* Unique URLs:    %d', n_url + n_dom) AS line FROM stats
UNION ALL
SELECT r_id, 1, printf('* Unique Domains: %d', n_dom) FROM stats
UNION ALL
SELECT r_id, 2, printf('* Top %d Websites:', LEAST(n_dom, 10)) FROM stats
UNION ALL
SELECT r_id, CAST(2 + rn AS INTEGER), '    - ' || dom
FROM (SELECT r_id, dom,
             row_number() OVER (PARTITION BY r_id ORDER BY cnt DESC, dom) AS rn
      FROM dom_counts)
WHERE rn <= 10
UNION ALL
SELECT s.r_id, CAST(3 + LEAST(s.n_dom, 10) AS INTEGER),
       printf('* Top %d Crawlers:', LEAST(s.n_crw, 5))
FROM stats s
UNION ALL
SELECT c.r_id, CAST(3 + LEAST(s.n_dom, 10) + c.rn AS INTEGER), '    - ' || c.crawler
FROM (SELECT r_id, crawler,
             row_number() OVER (PARTITION BY r_id ORDER BY cnt DESC, crawler) AS rn
      FROM crw_counts) c
JOIN stats s ON c.r_id = s.r_id
WHERE c.rn <= 5
"""


def crawler_log_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized crawler log rendered as F1-shaped text lines."""
    logs = crawler_logs(spark, spread_frame(table(spark, sf_dir, "events")))
    return logs.select(
        F.lit("crawler_logs").alias("file"),
        F.col("event_id").cast("long").alias("line_number"),
        F.concat_ws(" ", "ts_date", "ts_time", "crawler", "url").alias("line"),
    )


@query("mr_log_analyzer", oracle=MR_LOG_ANALYZER_ORACLE)
def mr_log_analyzer(spark: SparkSession, sf_dir: str) -> DataFrame:
    job = MapReduceJob(
        "mr_log_analyzer", log_analyzer_map, log_analyzer_reduce, r=LOG_ANALYZER_R
    )
    return job.run(crawler_log_lines(spark, sf_dir))
