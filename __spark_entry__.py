"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship focused-crawl scoring pipeline on
sf0.001; ``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the training-data pipeline ops); ``oracle_sql()`` gives the
DuckDB-runnable ANSI-SQL twin for every SQL-expressible query. Column names
and rounding are aligned on both sides (the driver hash-compares values).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: F401 — resolves pandas_udf string type hints

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_T = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings"}


def _load(
    spark: SparkSession, sf_dir: str, *names: str, spread: bool = False
) -> dict[str, DataFrame]:
    """Read test tables; with ``spread=True`` round-robin them across the
    executor slots first.

    The sf* fixtures are single-file, single-row-group parquet, so the scan
    is inherently ONE task — every expression evaluated before the first
    shuffle (canonicalization chains, shingling, pandas UDFs) would run
    serially, which both misrepresents the at-scale plan (a 100 TB table is
    thousands of row groups and parallelizes in the scan itself) and wastes
    all but one core. ``spread=True`` restores that parallelism with one
    exchange of the raw rows; entries whose per-row work is heavy (text /
    URL expression chains, per-row pandas UDFs) opt in, while
    pure-relational aggregations AND the embeddings entries skip it — the
    embeddings table is tiny at every test sf (2 k rows at sf0.1) and its
    work is one vectorized matmul / JVM arithmetic, so the full-slot
    exchange costs more than the serial scan it removes (interleaved A/B,
    round 5: spread 0.55-0.96 s vs unspread 0.30-0.33 s for
    embedding_topk). Value-neutral: no oracle compares row order, and
    every oracle-checked entry selects subsets by explicit key predicates,
    never by file position."""
    par = spark.sparkContext.defaultParallelism
    out = {}
    for n in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        out[n] = df.repartition(par) if spread else df
    return out


# deterministic synthetic URL column over `orders` (same SQL evaluated by
# Spark and DuckDB; {S} is the per-dialect string type)
_URL_CASE = """
CASE CAST(o_orderkey % 12 AS INT)
 WHEN 0 THEN 'http://Host' || CAST(o_custkey % 37 AS {S}) || '.Example/p' || CAST(o_orderkey AS {S}) || '.HTML'
 WHEN 1 THEN 'http://user:pw@host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S})
 WHEN 2 THEN 'https://www.host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '/x'
 WHEN 3 THEN 'http://www2.host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '/y'
 WHEN 4 THEN 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || ';jsessionid=a1b2c3d4e5f6a7b8c9d0e1f2a3b4c5d6'
 WHEN 5 THEN 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '?PHPSESSID=a1b2c3d4e5f6a7b8c9d0e1f2a3b4c5d6&x=1'
 WHEN 6 THEN 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '?'
 WHEN 7 THEN 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '?&'
 WHEN 8 THEN 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '?x=1&'
 WHEN 9 THEN 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '?CFID=12&CFTOKEN=ab&z=2'
 WHEN 10 THEN 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S}) || '.jpg'
 ELSE 'http://host' || CAST(o_custkey % 37 AS {S}) || '.example/p' || CAST(o_orderkey AS {S})
END
"""

_SPARK_URL = _URL_CASE.format(S="STRING")
_DUCK_URL = _URL_CASE.format(S="VARCHAR")

# the canonicalization rule chain as DuckDB SQL (independent oracle of
# topicrawler_spark.functions.canonicalize.canonical_url)
_DUCK_CANON = r"""
CASE
 WHEN regexp_matches(c5, '^(.+)\?$') THEN regexp_replace(c5, '^(.+)\?$', '\1')
 WHEN regexp_matches(c5, '^(.+)\?&$') THEN regexp_replace(c5, '^(.+)\?&$', '\1')
 WHEN regexp_matches(c5, '^(.+\?)&([^?]*)$') THEN regexp_replace(c5, '^(.+\?)&([^?]*)$', '\1\2')
 WHEN regexp_matches(c5, '^(.+\?.*)&$') THEN regexp_replace(c5, '^(.+\?.*)&$', '\1')
 ELSE c5
END
"""

_DUCK_CANON_CTE = r"""
canon_steps AS (
  SELECT url,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(url), '(?i)^((?:(?:https?)|(?:ftps?))://)(?:[^/]+@)(.*)$', '\1\2'),
            '(?i)^(https?://)(?:www[0-9]*\.)([^/]*/.+)$', '\1\2'),
          '(?i)^(.+)(?:(?:(?:jsessionid)|(?:phpsessid))=[0-9a-zA-Z]{32})(?:&(.*))?$', '\1\2'),
        '(?i)^(.+)(?:sid=[0-9a-zA-Z]{32})(?:&(.*))?$', '\1\2'),
      '(?i)^(.+)(?:ASPSESSIONID[a-zA-Z]{8}=[a-zA-Z]{24})(?:&(.*))?$', '\1\2'),
    '(?i)^(.+)(?:cfid=[^&]+&cftoken=[^&]+(?:jsession=[^&]+)?)(?:&(.*))?$', '\1\2') AS c5
  FROM urls
),
canonized AS (SELECT url, """ + _DUCK_CANON + r""" AS canon FROM canon_steps)
"""


def _urls_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders", spread=True)["orders"]
    return orders.select(F.expr(_SPARK_URL).alias("url"), "o_orderkey", "o_custkey")


def _norm_text(col):
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


_DUCK_NORM = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"

_DUCK_TOKS = (
    r"string_split(" + _DUCK_NORM + r", ' ')"
)


# Shared prefix for the writer-shape oracles: synthetic doc:// urls, the
# MLE bigram doc-perplexity (finite by construction — every document bigram
# is in the corpus count table), 6-decimal-rounded log terms and a 4-decimal
# perp, matching _doc_mle_perp sign-for-sign.
_WRITER_PERP_CTES = (
    "WITH wtoks AS (SELECT doc_id, 'doc://' || doc_id AS url, text, "
    + _DUCK_TOKS
    + """ AS tok FROM documents),
g1 AS (SELECT tok[i] AS w FROM wtoks, UNNEST(generate_series(1, len(tok))) AS t(i)),
uc AS (SELECT w, count(*) AS c1 FROM g1 GROUP BY 1),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram FROM wtoks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
bc AS (SELECT ngram, count(*) AS c12 FROM g2 GROUP BY 1),
db AS (SELECT doc_id, tok[i] AS w, tok[i] || ' ' || tok[i+1] AS ngram
       FROM wtoks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
sc AS (SELECT doc_id, round(log10(c12) - log10(c1), 6) AS lp
       FROM db JOIN bc USING (ngram) JOIN uc USING (w)),
pp AS (SELECT doc_id, round(pow(10.0, -(sum(lp)/count(*))), 4) AS perp
       FROM sc GROUP BY doc_id
       HAVING round(pow(10.0, -(sum(lp)/count(*))), 4) < 1000000)"""
)


def _kn2_core(cand_sql: str) -> str:
    """The order-2 KN CTE cascade over a token CTE named ``srctoks`` (column
    ``tok``): count tables, the count-of-counts histogram with the 4-step
    discount monotonicity fix-up (i = 5..2: zero-fix N[i], then bump N[i-1]),
    D = N1/(N1+2*N2), continuation totals, and the scored ``k`` table
    (punk/pkn) over the candidates produced by ``cand_sql``. Shared by the
    ``kn_bigram_logprob`` and ``doc_perplexity_kn2`` oracles — the engine
    branch-for-branch, independent of the Spark implementation."""
    return r"""
g1 AS (SELECT tok[i] AS ngram FROM srctoks, UNNEST(generate_series(1, len(tok))) AS t(i)),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram FROM srctoks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
uc AS (SELECT ngram, count(*) AS cnt FROM g1 GROUP BY 1),
bc AS (SELECT ngram, count(*) AS cnt FROM g2 GROUP BY 1),
sc AS (SELECT (SELECT count(*) FROM uc) AS u,
              (SELECT CAST(sum(cnt) AS DOUBLE) FROM uc) AS s1,
              (SELECT count(*) FROM bc) AS b),
hist AS (
  SELECT 1 AS n, least(cnt, 5) AS cls, count(*) AS num FROM uc GROUP BY 2
  UNION ALL
  SELECT 2 AS n, least(cnt, 5) AS cls, count(*) AS num FROM bc GROUP BY 2
),
nn AS (
  SELECT n,
    coalesce(sum(num) FILTER (WHERE cls = 1), 0) AS n1,
    coalesce(sum(num) FILTER (WHERE cls = 2), 0) AS n2,
    coalesce(sum(num) FILTER (WHERE cls = 3), 0) AS n3,
    coalesce(sum(num) FILTER (WHERE cls = 4), 0) AS n4,
    coalesce(sum(num) FILTER (WHERE cls = 5), 0) AS n5
  FROM hist GROUP BY n
),
f5  AS (SELECT n, n1, n2, n3, n4, CASE WHEN n5 = 0 THEN 1 ELSE n5 END AS n5 FROM nn),
f5b AS (SELECT n, n1, n2, n3, CASE WHEN 5*n5 >= 4*n4 THEN 5*n5 + 1 ELSE n4 END AS n4, n5 FROM f5),
f4  AS (SELECT n, n1, n2, n3, CASE WHEN n4 = 0 THEN 1 ELSE n4 END AS n4, n5 FROM f5b),
f4b AS (SELECT n, n1, n2, CASE WHEN 4*n4 >= 3*n3 THEN 4*n4 + 1 ELSE n3 END AS n3, n4, n5 FROM f4),
f3  AS (SELECT n, n1, n2, CASE WHEN n3 = 0 THEN 1 ELSE n3 END AS n3, n4, n5 FROM f4b),
f3b AS (SELECT n, n1, CASE WHEN 3*n3 >= 2*n2 THEN 3*n3 + 1 ELSE n2 END AS n2, n3 FROM f3),
f2  AS (SELECT n, n1, CASE WHEN n2 = 0 THEN 1 ELSE n2 END AS n2 FROM f3b),
f2b AS (SELECT n, CASE WHEN 2*n2 >= 1*n1 THEN 2*n2 + 1 ELSE n1 END AS n1, n2 FROM f2),
dd AS (SELECT
  (SELECT n1/(n1 + 2.0*n2) FROM f2b WHERE n = 1) AS d1,
  (SELECT n1/(n1 + 2.0*n2) FROM f2b WHERE n = 2) AS d2),
nft AS (SELECT string_split(ngram, ' ')[1] AS w, count(*) AS nf FROM bc GROUP BY 1),
npt AS (SELECT string_split(ngram, ' ')[2] AS w, count(*) AS np FROM bc GROUP BY 1),
cand AS (""" + cand_sql + r"""),
j AS (
  SELECT cand.ngram, bc.cnt AS c12, c1.cnt AS c1, c2.cnt AS c2,
         nft.nf AS nf1, npt.np AS np2
  FROM cand
  LEFT JOIN bc ON cand.ngram = bc.ngram
  LEFT JOIN uc c1 ON string_split(cand.ngram, ' ')[1] = c1.ngram
  LEFT JOIN uc c2 ON string_split(cand.ngram, ' ')[2] = c2.ngram
  LEFT JOIN nft ON string_split(cand.ngram, ' ')[1] = nft.w
  LEFT JOIN npt ON string_split(cand.ngram, ' ')[2] = npt.w
),
k AS (
  SELECT ngram,
    CASE WHEN nf1 IS NULL THEN (1.0/b)*(d1/u)
         ELSE (nf1/CAST(b AS DOUBLE))*(d1/u) END AS punk,
    CASE
      WHEN c2 IS NULL THEN
        CASE WHEN nf1 IS NULL THEN (1.0/b)*(d1/u)
             ELSE (nf1/CAST(b AS DOUBLE))*(d1/u) END
      WHEN np2 IS NULL THEN c2/s1
      WHEN c1 IS NULL THEN np2/CAST(b AS DOUBLE)
      ELSE greatest(coalesce(c12, 0) - d2, 0.0)/c1
           + (d2 * CAST(coalesce(nf1, 1) AS DOUBLE) / c1) * (np2/CAST(b AS DOUBLE))
    END AS pkn
  FROM j, sc, dd
)"""


# the order-3 KN oracle: the n=3 recursion branch-for-branch — unigram
# continuation with early returns, the i=2 backoff level (nfph max, nf==0
# pruning reset, pruned-nom early return), the top level incl. the
# zero-history fallback through the previous history, punk, and the clamp
_KN3_SQL_TMPL = r"""
WITH {TOKS},
g1 AS (SELECT tok[i] AS ngram FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
g3 AS (SELECT tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS ngram FROM toks, UNNEST(generate_series(1, len(tok)-2)) AS t(i)),
uc AS (SELECT ngram, count(*) AS cnt FROM g1 GROUP BY 1),
bc AS (SELECT ngram, count(*) AS cnt FROM g2 GROUP BY 1),
tc AS (SELECT ngram, count(*) AS cnt FROM g3 GROUP BY 1),
sc AS (SELECT (SELECT count(*) FROM uc) AS u,
              (SELECT CAST(sum(cnt) AS DOUBLE) FROM uc) AS s1,
              (SELECT count(*) FROM bc) AS b),
hist AS (
  SELECT 1 AS n, least(cnt, 5) AS cls, count(*) AS num FROM uc GROUP BY 2
  UNION ALL
  SELECT 2 AS n, least(cnt, 5) AS cls, count(*) AS num FROM bc GROUP BY 2
  UNION ALL
  SELECT 3 AS n, least(cnt, 5) AS cls, count(*) AS num FROM tc GROUP BY 2
),
nn AS (
  SELECT n,
    coalesce(sum(num) FILTER (WHERE cls = 1), 0) AS n1,
    coalesce(sum(num) FILTER (WHERE cls = 2), 0) AS n2,
    coalesce(sum(num) FILTER (WHERE cls = 3), 0) AS n3,
    coalesce(sum(num) FILTER (WHERE cls = 4), 0) AS n4,
    coalesce(sum(num) FILTER (WHERE cls = 5), 0) AS n5
  FROM hist GROUP BY n
),
f5  AS (SELECT n, n1, n2, n3, n4, CASE WHEN n5 = 0 THEN 1 ELSE n5 END AS n5 FROM nn),
f5b AS (SELECT n, n1, n2, n3, CASE WHEN 5*n5 >= 4*n4 THEN 5*n5 + 1 ELSE n4 END AS n4, n5 FROM f5),
f4  AS (SELECT n, n1, n2, n3, CASE WHEN n4 = 0 THEN 1 ELSE n4 END AS n4, n5 FROM f5b),
f4b AS (SELECT n, n1, n2, CASE WHEN 4*n4 >= 3*n3 THEN 4*n4 + 1 ELSE n3 END AS n3, n4, n5 FROM f4),
f3  AS (SELECT n, n1, n2, CASE WHEN n3 = 0 THEN 1 ELSE n3 END AS n3, n4, n5 FROM f4b),
f3b AS (SELECT n, n1, CASE WHEN 3*n3 >= 2*n2 THEN 3*n3 + 1 ELSE n2 END AS n2, n3 FROM f3),
f2  AS (SELECT n, n1, CASE WHEN n2 = 0 THEN 1 ELSE n2 END AS n2 FROM f3b),
f2b AS (SELECT n, CASE WHEN 2*n2 >= 1*n1 THEN 2*n2 + 1 ELSE n1 END AS n1, n2 FROM f2),
dd AS (SELECT
  (SELECT n1/(n1 + 2.0*n2) FROM f2b WHERE n = 1) AS d1,
  (SELECT n1/(n1 + 2.0*n2) FROM f2b WHERE n = 2) AS d2,
  (SELECT n1/(n1 + 2.0*n2) FROM f2b WHERE n = 3) AS d3),
nf1t AS (SELECT string_split(ngram, ' ')[1] AS w, count(*) AS v FROM bc GROUP BY 1),
np1t AS (SELECT string_split(ngram, ' ')[2] AS w, count(*) AS v FROM bc GROUP BY 1),
nfp1t AS (SELECT string_split(ngram, ' ')[2] AS w, count(*) AS v FROM tc GROUP BY 1),
nf2t AS (SELECT string_split(ngram, ' ')[1] || ' ' || string_split(ngram, ' ')[2] AS g, count(*) AS v FROM tc GROUP BY 1),
np2t AS (SELECT string_split(ngram, ' ')[2] || ' ' || string_split(ngram, ' ')[3] AS g, count(*) AS v FROM tc GROUP BY 1),
cand AS (SELECT DISTINCT ngram FROM (
  SELECT ngram FROM tc
  UNION ALL
  SELECT string_split(ngram, ' ')[3] || ' ' || string_split(ngram, ' ')[2] || ' ' || string_split(ngram, ' ')[1] FROM tc)),
j AS (
  SELECT cand.ngram,
         u3.cnt AS c_w3, u2.cnt AS c_w2,
         b23.cnt AS c_w23, b12.cnt AS c_w12, t0.cnt AS c_w123,
         np1t.v AS np_w3, nf1t.v AS nf_w2, np1b.v AS np_w2, nfp1t.v AS nfp_w2,
         np2t.v AS np_w23, nf2t.v AS nf_w12
  FROM cand
  LEFT JOIN uc u3 ON string_split(cand.ngram, ' ')[3] = u3.ngram
  LEFT JOIN uc u2 ON string_split(cand.ngram, ' ')[2] = u2.ngram
  LEFT JOIN bc b23 ON string_split(cand.ngram, ' ')[2] || ' ' || string_split(cand.ngram, ' ')[3] = b23.ngram
  LEFT JOIN bc b12 ON string_split(cand.ngram, ' ')[1] || ' ' || string_split(cand.ngram, ' ')[2] = b12.ngram
  LEFT JOIN tc t0 ON cand.ngram = t0.ngram
  LEFT JOIN np1t ON string_split(cand.ngram, ' ')[3] = np1t.w
  LEFT JOIN nf1t ON string_split(cand.ngram, ' ')[2] = nf1t.w
  LEFT JOIN np1t np1b ON string_split(cand.ngram, ' ')[2] = np1b.w
  LEFT JOIN nfp1t ON string_split(cand.ngram, ' ')[2] = nfp1t.w
  LEFT JOIN np2t ON string_split(cand.ngram, ' ')[2] || ' ' || string_split(cand.ngram, ' ')[3] = np2t.g
  LEFT JOIN nf2t ON string_split(cand.ngram, ' ')[1] || ' ' || string_split(cand.ngram, ' ')[2] = nf2t.g
),
k1 AS (
  SELECT ngram, c_w3, c_w2, c_w23, c_w12, c_w123, np_w3, nf_w12,
    CASE WHEN coalesce(nf_w2, 0) = 0 THEN (1.0/b)*(d1/u)
         ELSE (nf_w2/CAST(b AS DOUBLE))*(d1/u) END AS punk,
    np_w3/CAST(b AS DOUBLE) AS p1,
    greatest(coalesce(nf_w2, 0), coalesce(np_w2, 0), coalesce(nfp_w2, 0)) AS nfph2,
    CASE WHEN coalesce(nf_w2, 0) = 0 THEN 1.0 ELSE CAST(nf_w2 AS DOUBLE) END AS nfh2,
    greatest(coalesce(np_w23, 0) - d2, 0.0) AS nom_m
  FROM j, sc, dd
),
k2 AS (
  SELECT k1.*,
    CASE WHEN nfph2 = 0 THEN NULL
         ELSE (CASE WHEN nom_m = 0 THEN 0.0 ELSE nom_m/nfph2 END)
              + (d2*nfh2/nfph2)*p1 END AS pkn2
  FROM k1, dd
),
k AS (
  SELECT ngram, punk,
    CASE
      WHEN c_w3 IS NULL THEN punk
      WHEN coalesce(np_w3, 0) = 0 THEN c_w3/s1
      WHEN nfph2 = 0 THEN p1
      WHEN nom_m = 0 THEN pkn2
      WHEN coalesce(c_w12, 0) = 0 THEN
        CASE WHEN coalesce(c_w2, 0) != 0
             THEN (CASE WHEN greatest(coalesce(c_w23, 0) - d3, 0.0) = 0 THEN 0.0
                        ELSE greatest(coalesce(c_w23, 0) - d3, 0.0)/c_w2 END)
                  + (d3*nfh2/c_w2)*p1
             ELSE pkn2 END
      ELSE (CASE WHEN greatest(coalesce(c_w123, 0) - d3, 0.0) = 0 THEN 0.0
                 ELSE greatest(coalesce(c_w123, 0) - d3, 0.0)/c_w12 END)
           + (d3*(CASE WHEN coalesce(nf_w12, 0) = 0 THEN 1.0 ELSE CAST(nf_w12 AS DOUBLE) END)/c_w12)*pkn2
    END AS pkn
  FROM k2, sc, dd
)
SELECT ngram, round(log10(least(greatest(pkn, punk), 1.0)), 6) AS kn_log10 FROM k
"""

# the order-3 Stupid Backoff oracle: OOV -> ud; a miss at the middle order
# returns the unigram score times one discount; a miss at the top order
# returns the bigram-level score undiscounted
_SB3_SQL_TMPL = r"""
WITH {TOKS},
g1 AS (SELECT tok[i] AS ngram FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
g3 AS (SELECT tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS ngram FROM toks, UNNEST(generate_series(1, len(tok)-2)) AS t(i)),
uc AS (SELECT ngram, count(*) AS cnt FROM g1 GROUP BY 1),
bc AS (SELECT ngram, count(*) AS cnt FROM g2 GROUP BY 1),
tc AS (SELECT ngram, count(*) AS cnt FROM g3 GROUP BY 1),
cand AS (SELECT DISTINCT ngram FROM (
  SELECT ngram FROM tc
  UNION ALL
  SELECT string_split(ngram, ' ')[3] || ' ' || string_split(ngram, ' ')[2] || ' ' || string_split(ngram, ' ')[1] FROM tc)),
j AS (
  SELECT cand.ngram,
         u3.cnt AS c_w3, u2.cnt AS c_w2,
         b23.cnt AS c_w23, b12.cnt AS c_w12, t0.cnt AS c_w123
  FROM cand
  LEFT JOIN uc u3 ON string_split(cand.ngram, ' ')[3] = u3.ngram
  LEFT JOIN uc u2 ON string_split(cand.ngram, ' ')[2] = u2.ngram
  LEFT JOIN bc b23 ON string_split(cand.ngram, ' ')[2] || ' ' || string_split(cand.ngram, ' ')[3] = b23.ngram
  LEFT JOIN bc b12 ON string_split(cand.ngram, ' ')[1] || ' ' || string_split(cand.ngram, ' ')[2] = b12.ngram
  LEFT JOIN tc t0 ON cand.ngram = t0.ngram
)
SELECT ngram,
  round(log10(CASE
    WHEN c_w3 IS NULL THEN 0.4 / ((SELECT count(*) FROM uc) + 1.0)
    WHEN coalesce(c_w23, 0) = 0 OR coalesce(c_w2, 0) = 0
      THEN (c_w3 / CAST((SELECT count(*) FROM uc) AS DOUBLE)) * 0.4
    WHEN coalesce(c_w123, 0) = 0 OR coalesce(c_w12, 0) = 0
      THEN c_w23 / CAST(c_w2 AS DOUBLE)
    ELSE c_w123 / CAST(c_w12 AS DOUBLE)
  END), 6) AS sb_log10
FROM j
"""


def _kn_doc_sql(order: int) -> str:
    """Generate the order-n interpolated modified Kneser-Ney per-document
    perplexity oracle for DuckDB — ``LocalLM.kneser_ney``
    (lucenebased/KneserNeyLM.kn) ported branch-for-branch to a chained-CTE
    cascade at arbitrary order, then aggregated per document exactly like
    ModelPerplexity.java:76-84 / PerpDoc.java:196-276: pad each document
    with <s>/</s>, count all 1..n-gram windows of the padded corpus
    (boundary mode 0), score every full n-length document window, and
    return perp = 10^(-Σ round(log10 p, 6) / N) rounded to 4 decimals.

    The recursion's loop state (pkn, lp, nfh_prev, ch, sub_str) threads
    through generated per-level CTE columns; its early returns become a
    first-match-wins CASE chain — the same structure the engine's
    ``score_kn_join`` builds as Spark Columns, re-derived here as portable
    SQL so the DuckDB side stays an independent executable spec."""
    n = order
    p = []  # CTE list
    p.append(
        "srctoks AS (SELECT doc_id, ['<s>'] || " + _DUCK_TOKS
        + " || ['</s>'] AS tok FROM documents)"
    )
    # 1..n-gram windows, reference boundary mode 0 (short docs yield one
    # short ngram per order; they collapse onto the same ngram string key)
    for i in range(1, n + 1):
        p.append(
            f"gw{i} AS (SELECT array_to_string(tok[j:j+{i - 1}], ' ') AS ngram"
            f" FROM srctoks, UNNEST(generate_series(1, len(tok)-{i}+1)) AS t{i}(j)"
            f" WHERE len(tok) > {i}"
            f" UNION ALL SELECT array_to_string(tok, ' ') FROM srctoks WHERE len(tok) <= {i})"
        )
    allg = " UNION ALL ".join(f"SELECT ngram FROM gw{i}" for i in range(1, n + 1))
    p.append(f"allg AS ({allg})")
    p.append(
        "cnts AS (SELECT ngram, count(*) AS cnt,"
        " len(string_split(ngram, ' ')) AS n FROM allg GROUP BY 1)"
    )
    p.append(
        "sc AS (SELECT CAST((SELECT count(*) FROM cnts WHERE n = 1) AS DOUBLE) AS u,"
        " (SELECT CAST(sum(cnt) AS DOUBLE) FROM cnts WHERE n = 1) AS s1,"
        " CAST((SELECT count(*) FROM cnts WHERE n = 2) AS DOUBLE) AS b)"
    )
    # count-of-counts histogram + the 4-step discount monotonicity fix-up
    # (i = 5..2: zero-fix N[i], then bump N[i-1]) and D = N1/(N1+2*N2)
    p.append("hist AS (SELECT n, least(cnt, 5) AS cls, count(*) AS num FROM cnts GROUP BY 1, 2)")
    p.append(
        """nn AS (
  SELECT n,
    coalesce(sum(num) FILTER (WHERE cls = 1), 0) AS n1,
    coalesce(sum(num) FILTER (WHERE cls = 2), 0) AS n2,
    coalesce(sum(num) FILTER (WHERE cls = 3), 0) AS n3,
    coalesce(sum(num) FILTER (WHERE cls = 4), 0) AS n4,
    coalesce(sum(num) FILTER (WHERE cls = 5), 0) AS n5
  FROM hist GROUP BY n)"""
    )
    p.append("f5  AS (SELECT n, n1, n2, n3, n4, CASE WHEN n5 = 0 THEN 1 ELSE n5 END AS n5 FROM nn)")
    p.append("f5b AS (SELECT n, n1, n2, n3, CASE WHEN 5*n5 >= 4*n4 THEN 5*n5 + 1 ELSE n4 END AS n4, n5 FROM f5)")
    p.append("f4  AS (SELECT n, n1, n2, n3, CASE WHEN n4 = 0 THEN 1 ELSE n4 END AS n4, n5 FROM f5b)")
    p.append("f4b AS (SELECT n, n1, n2, CASE WHEN 4*n4 >= 3*n3 THEN 4*n4 + 1 ELSE n3 END AS n3, n4, n5 FROM f4)")
    p.append("f3  AS (SELECT n, n1, n2, CASE WHEN n3 = 0 THEN 1 ELSE n3 END AS n3, n4, n5 FROM f4b)")
    p.append("f3b AS (SELECT n, n1, CASE WHEN 3*n3 >= 2*n2 THEN 3*n3 + 1 ELSE n2 END AS n2, n3 FROM f3)")
    p.append("f2  AS (SELECT n, n1, CASE WHEN n2 = 0 THEN 1 ELSE n2 END AS n2 FROM f3b)")
    p.append("f2b AS (SELECT n, CASE WHEN 2*n2 >= 1*n1 THEN 2*n2 + 1 ELSE n1 END AS n1, n2 FROM f2)")
    dd = ", ".join(
        f"(SELECT n1/(n1 + 2.0*n2) FROM f2b WHERE n = {i}) AS d{i}" for i in range(1, n + 1)
    )
    p.append(f"dd AS (SELECT {dd})")
    # per-ngram continuation dimension (build_kn_stats twin): nf_tot = counted
    # right-extensions, np_tot = left-extensions, nfp_tot = both-side
    # extensions; absent/pruned keys answer NULL -> 0 at the candidate join
    p.append("spc AS (SELECT ngram, cnt, n, string_split(ngram, ' ') AS sp FROM cnts)")
    p.append("nft AS (SELECT array_to_string(sp[1:len(sp)-1], ' ') AS g, count(*) AS v FROM spc WHERE n > 1 GROUP BY 1)")
    p.append("npt AS (SELECT array_to_string(sp[2:len(sp)], ' ') AS g, count(*) AS v FROM spc WHERE n > 1 GROUP BY 1)")
    p.append("nfpt AS (SELECT array_to_string(sp[2:len(sp)-1], ' ') AS g, count(*) AS v FROM spc WHERE n > 2 GROUP BY 1)")
    p.append(
        "stats AS (SELECT c.ngram, c.cnt, nft.v AS nf_tot, npt.v AS np_tot, nfpt.v AS nfp_tot"
        " FROM cnts c LEFT JOIN nft ON c.ngram = nft.g"
        " LEFT JOIN npt ON c.ngram = npt.g LEFT JOIN nfpt ON c.ngram = nfpt.g)"
    )
    # document n-grams: full n-length windows only (documents shorter than
    # the order drop out, mirroring the engine entry's size guard)
    p.append(
        f"db AS (SELECT doc_id, array_to_string(tok[j:j+{n - 1}], ' ') AS ngram"
        f" FROM srctoks, UNNEST(generate_series(1, len(tok)-{n}+1)) AS td(j)"
        f" WHERE len(tok) >= {n})"
    )
    p.append("cand AS (SELECT DISTINCT ngram FROM db)")
    p.append("candk AS (SELECT ngram, string_split(ngram, ' ') AS sp FROM cand)")
    # join keys: s_j = last j words, h_j = j words ending at position n-1
    tags = [(f"s{j}", n - j + 1, n) for j in range(1, n + 1)]
    tags += [(f"h{j}", n - j, n - 1) for j in range(1, n)]
    sel, joins = [], []
    for tag, lo, hi in tags:
        for c in ("cnt", "nf_tot", "np_tot", "nfp_tot"):
            sel.append(f"st_{tag}.{c} AS {tag}_{c}")
        joins.append(
            f"LEFT JOIN stats st_{tag} ON array_to_string(sp[{lo}:{hi}], ' ') = st_{tag}.ngram"
        )
    p.append(
        "j AS (SELECT candk.ngram, " + ", ".join(sel) + " FROM candk " + " ".join(joins) + ")"
    )
    k0 = ["ngram", "u", "s1", "b"] + [f"d{i}" for i in range(1, n + 1)]
    short = {"cnt": "c", "nf_tot": "nf", "np_tot": "np", "nfp_tot": "nfp"}
    for tag, _, _ in tags:
        for c, s in short.items():
            k0.append(f"CAST(coalesce({tag}_{c}, 0) AS DOUBLE) AS {s}_{tag}")
    p.append("k0 AS (SELECT " + ", ".join(k0) + " FROM j, sc, dd)")
    # punk: nf_total of the second-to-last word over B times D1/U; ud when
    # that word has no successors. pkn1: unigram continuation np_tot/B.
    p.append(
        "k0b AS (SELECT *,"
        " CASE WHEN nf_h1 = 0 THEN (1.0/b)*(d1/u) ELSE (nf_h1/b)*(d1/u) END AS punk,"
        " np_s1/b AS pkn1 FROM k0)"
    )
    branches: list[tuple[str, str]] = []
    branches.append(("c_s1 = 0", "punk"))  # ends_with_oov
    branches.append(("np_s1 = 0", "c_s1/s1"))  # zero-continuation early return
    lp, nfhv_prev, ch_prev, csub_prev, pkn = "0.0", "0.0", "0.0", "0.0", "pkn1"
    prev = "k0b"
    for i in range(2, n):  # middle orders; hist = h{i-1}, sub = s{i}
        a, bname = f"l{i}a", f"l{i}b"
        p.append(
            f"{a} AS (SELECT *,"
            f" greatest(nf_h{i - 1}, np_h{i - 1}, nfp_h{i - 1}) AS nfph{i},"
            f" CASE WHEN nf_h{i - 1} = 0 THEN 1.0 ELSE nf_h{i - 1} END AS nfhv{i},"
            f" greatest(np_s{i} - d{i}, 0.0) AS nom{i},"
            f" greatest({csub_prev} - d{i}, 0.0) AS nomfix{i}"
            f" FROM {prev})"
        )
        p.append(
            f"{bname} AS (SELECT *,"
            f" (CASE WHEN nomfix{i} = 0 THEN 0.0 ELSE nomfix{i}/{ch_prev} END)"
            f" + (d{i}/{ch_prev})*{nfhv_prev}*{lp} AS pknfix{i},"
            f" (CASE WHEN nom{i} = 0 THEN 0.0 ELSE nom{i}/nfph{i} END)"
            f" + (d{i}*nfhv{i}/nfph{i})*{pkn} AS pkn{i}"
            f" FROM {a})"
        )
        fix_ok = f"({ch_prev} != 0 AND {lp} != 0 AND {nfhv_prev} != 0)"
        # nfph==0 early return, fixed up through the PREVIOUS level when it
        # completed normally; then the pruned-nom early return
        branches.append((f"nfph{i} = 0", f"CASE WHEN {fix_ok} THEN pknfix{i} ELSE {pkn} END"))
        branches.append((f"nom{i} = 0", f"pkn{i}"))
        lp, pkn = pkn, f"pkn{i}"
        nfhv_prev, ch_prev, csub_prev = f"nfhv{i}", f"c_h{i - 1}", f"c_s{i}"
        prev = bname
    # top order: hist = h{n-1}, sub = the full ngram (s{n})
    p.append(
        f"ktopa AS (SELECT *,"
        f" greatest({csub_prev} - d{n}, 0.0) AS nomfb,"
        f" CASE WHEN nf_h{n - 1} = 0 THEN 1.0 ELSE nf_h{n - 1} END AS nfhtop,"
        f" greatest(c_s{n} - d{n}, 0.0) AS nomtop"
        f" FROM {prev})"
    )
    p.append(
        f"ktopb AS (SELECT *,"
        f" (CASE WHEN nomfb = 0 THEN 0.0 ELSE nomfb/{ch_prev} END)"
        f" + (d{n}/{ch_prev})*{nfhv_prev}*{lp} AS pknfb,"
        f" (CASE WHEN nomtop = 0 THEN 0.0 ELSE nomtop/c_h{n - 1} END)"
        f" + (d{n}*nfhtop/c_h{n - 1})*{pkn} AS pkntop"
        f" FROM ktopa)"
    )
    fb_cond = f"({lp} != 0 AND {nfhv_prev} != 0 AND {ch_prev} != 0)"
    branches.append(
        (f"c_h{n - 1} = 0", f"CASE WHEN {fb_cond} THEN pknfb ELSE {pkn} END")
    )
    whens = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    p.append(f"kf AS (SELECT ngram, punk, CASE {whens} ELSE pkntop END AS pkn FROM ktopb)")
    p.append(
        "kk AS (SELECT ngram, round(log10(least(greatest(pkn, punk), 1.0)), 6) AS l FROM kf)"
    )
    return (
        "WITH " + ",\n".join(p)
        + f"""
SELECT doc_id, count(*) AS n_ngrams, round(pow(10.0, -(sum(l)/count(*))), 4) AS perp_kn{n}
FROM db JOIN kk USING (ngram) GROUP BY doc_id"""
    )



# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.functions.canonicalize import canonical_url

    urls = _urls_df(spark, sf_dir)
    return urls.select(
        "url", canonical_url(F.col("url")).alias("canon")
    ).orderBy("url")


def q_host_classkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.functions.canonicalize import canonical_url, host_classkey, second_level_domain

    urls = _urls_df(spark, sf_dir)
    canon = canonical_url(F.col("url"))
    host = host_classkey(canon)
    return urls.select(
        "url", host.alias("host"), second_level_domain(host).alias("sld")
    )


def q_priority_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perplexity -> (directive, cost) over a derived perp column."""
    from topicrawler_spark.crawl.priority import apply_priority

    li = _load(spark, sf_dir, "lineitem")["lineitem"]
    perp = (F.col("l_extendedprice") % F.lit(60000.0)).alias("perp")
    d, c = apply_priority(F.col("perp"))
    return (
        li.select(F.col("l_orderkey"), F.col("l_linenumber"), perp)
        .select("l_orderkey", "l_linenumber", "perp", d.alias("directive"), c.alias("cost"))
        .withColumn("perp", F.round("perp", 4))
    )


def q_politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted per-host top-k admission over a synthetic frontier."""
    from topicrawler_spark.crawl.ranking import per_host_top_k

    li = _load(spark, sf_dir, "lineitem")["lineitem"]
    frontier = li.select(
        (F.col("l_suppkey") % 25).cast("string").alias("host"),
        (F.col("l_orderkey") % 4).cast("int").alias("directive"),
        (F.col("l_partkey") % 128).cast("int").alias("precedence"),
        F.col("l_orderkey").alias("ord_r"),
        F.col("l_linenumber").cast("long").alias("ord_k"),
        F.lit(5).alias("k"),
    )
    return per_host_top_k(frontier, "k", ["directive", "precedence", "ord_r", "ord_k"]).select(
        "host", "directive", "precedence", "ord_r", "ord_k", "host_rank"
    )


def q_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates anti-joined against a seen set on the canonical URL."""
    from topicrawler_spark.functions.canonicalize import canonical_url

    urls = _urls_df(spark, sf_dir)
    cands = urls.select(canonical_url(F.col("url")).alias("canon"), "o_orderkey")
    seen = cands.filter(F.col("o_orderkey") % 3 == 0).select("canon").distinct()
    return (
        cands.join(seen, "canon", "left_anti")
        .groupBy("canon")
        .agg(F.count(F.lit(1)).alias("n"), F.min("o_orderkey").alias("first_key"))
    )


def q_queue_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host cumulative fetch counts with budget retirement flag."""
    li = _load(spark, sf_dir, "lineitem")["lineitem"]
    per_host = li.groupBy((F.col("l_suppkey") % 25).cast("string").alias("host")).agg(
        F.count(F.lit(1)).alias("fetched")
    )
    return per_host.select(
        "host", "fetched", (F.col("fetched") >= 2000).cast("int").alias("retired")
    )


def q_ngram_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token bigram counting over documents (the LM count job's
    relational core; the lt.seg tokenizer parity is pytest-verified)."""
    from topicrawler_spark.lm.counting import count_ngrams

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=2)
    return counts.filter(F.col("n") == 2).select("ngram", "cnt")


def q_ngram_mincount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.lm.counting import count_ngrams

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=3, mincount=5)
    return counts.select("ngram", "n", "cnt")


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    return (
        docs.select(F.explode(F.split(_norm_text(F.col("text")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_nfollow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_follow continuation counts from the bigram table."""
    from topicrawler_spark.lm.counting import build_lm_counts, count_ngrams

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=2)
    joined = build_lm_counts(counts)
    return joined.filter(F.col("n") == 1).select(
        "ngram",
        F.coalesce("nf_N1", F.lit(0)).alias("nf_n1"),
        F.coalesce("nf_N2", F.lit(0)).alias("nf_n2"),
        F.coalesce("nf_N3", F.lit(0)).alias("nf_n3"),
        F.coalesce("np_N1", F.lit(0)).alias("np_n1"),
        F.coalesce("np_N2", F.lit(0)).alias("np_n2"),
        F.coalesce("np_N3", F.lit(0)).alias("np_n3"),
    )


def q_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The __sum_ngrams__ count-of-counts histogram."""
    from topicrawler_spark.lm.counting import count_ngrams

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=2)
    return (
        counts.groupBy("n", F.least(F.col("cnt"), F.lit(5)).alias("cls"))
        .agg(F.count(F.lit(1)).alias("num"), F.sum("cnt").alias("total"))
    )


def q_mle_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based MLE log10 probability of every counted bigram."""
    from topicrawler_spark.lm.counting import count_ngrams, score_mle_join

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=2).cache()
    bigrams = counts.filter(F.col("n") == 2).select("ngram")
    scored = score_mle_join(bigrams, counts)
    return scored.select("ngram", F.round("log10p", 6).alias("log10p"))


def _bigram_candidates(spark: SparkSession, sf_dir: str):
    """Shared input for the smoothing-scorer entries: the corpus bigram
    counts plus a candidate set of counted bigrams ∪ their reversals
    (reversals are mostly unseen — they exercise the backoff branches)."""
    from topicrawler_spark.lm.counting import count_ngrams

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=2).cache()
    bigrams = counts.filter(F.col("n") == 2).select("ngram")
    toks = F.split(F.col("ngram"), " ")
    cand = bigrams.unionByName(
        bigrams.select(F.concat_ws(" ", toks[1], toks[0]).alias("ngram"))
    ).distinct()
    return counts, cand


def q_laplace_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based Laplace (add-one) log10 scoring of bigrams + reversals."""
    from topicrawler_spark.lm.counting import score_laplace_join

    counts, cand = _bigram_candidates(spark, sf_dir)
    return score_laplace_join(cand, counts).select(
        "ngram", F.round("log10p", 6).alias("log10p")
    )


def q_stupid_backoff_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based Stupid Backoff scoring (order 2, reference early-return
    quirks) of bigrams + reversals."""
    from topicrawler_spark.lm.counting import score_stupid_backoff_join

    counts, cand = _bigram_candidates(spark, sf_dir)
    return score_stupid_backoff_join(cand, counts, 2).select(
        "ngram", F.round("sb_log10", 6).alias("sb_log10")
    )


def q_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based interpolated modified Kneser-Ney scoring (order 2, incl.
    discount auto-estimation fix-ups, punk clamp, pruning resets) of
    bigrams + reversals — the production crawl scorer's relational twin."""
    from topicrawler_spark.lm.counting import score_kn_join

    counts, cand = _bigram_candidates(spark, sf_dir)
    return score_kn_join(cand, counts, 2).select(
        "ngram", F.round("kn_log10", 6).alias("kn_log10")
    )


def _trigram_candidates(spark: SparkSession, sf_dir: str):
    """Corpus trigram counts + candidates (trigrams ∪ reversals; reversals
    are mostly unseen — they exercise the order-3 backoff chain)."""
    from topicrawler_spark.lm.counting import count_ngrams

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=3).cache()
    tri = counts.filter(F.col("n") == 3).select("ngram")
    t = F.split(F.col("ngram"), " ")
    cand = tri.unionByName(
        tri.select(F.concat_ws(" ", t[2], t[1], t[0]).alias("ngram"))
    ).distinct()
    return counts, cand


def q_kn_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 interpolated modified Kneser-Ney via the general order-n join
    scorer (chained join+column stages; the reference evaluates at n=3 and
    n=5 — runeval.sh) over trigrams + reversals."""
    from topicrawler_spark.lm.counting import score_kn_join

    counts, cand = _trigram_candidates(spark, sf_dir)
    return score_kn_join(cand, counts, 3).select(
        "ngram", F.round("kn_log10", 6).alias("kn_log10")
    )


def q_stupid_backoff_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 Stupid Backoff via the general order-n join scorer (incl. the
    middle-order single-discount and top-order no-discount miss quirks)."""
    from topicrawler_spark.lm.counting import score_stupid_backoff_join

    counts, cand = _trigram_candidates(spark, sf_dir)
    return score_stupid_backoff_join(cand, counts, 3).select(
        "ngram", F.round("sb_log10", 6).alias("sb_log10")
    )


def q_doc_perplexity_kn2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end order-2 KN document perplexity, fully relational: pad each
    document's tokens with <s>/</s>, count the corpus bigram table, score
    every document bigram with the join-based KN scorer, and aggregate
    perp = 10^(-Σlog10 p / N) per document (ModelPerplexity.java:76-84,
    PerpDoc.java:196-276) — the oracle-checked twin of the crawl's
    decision variable (broadcast-scorer ``doc_perplexity`` entry)."""
    from topicrawler_spark.lm.counting import count_ngrams, ngram_windows, score_kn_join

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    toks = F.split(_norm_text(F.col("text")), " ")
    padded = F.concat(F.array(F.lit("<s>")), toks, F.array(F.lit("</s>")))
    sent = docs.select("doc_id", padded.alias("tokens"))
    counts = count_ngrams(sent.select("tokens"), order=2).cache()
    bi = sent.select(
        "doc_id", F.explode(ngram_windows(F.col("tokens"), 2)).alias("g")
    ).select("doc_id", F.array_join("g", " ").alias("ngram"))
    scored = score_kn_join(bi, counts, 2)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.round(
            F.pow(F.lit(10.0), -(F.sum(F.round("kn_log10", 6)) / F.count(F.lit(1)))), 4
        ).alias("perp_kn2"),
    )


def _doc_perp_kn_order(spark: SparkSession, sf_dir: str, order: int) -> DataFrame:
    """End-to-end order-n KN document perplexity, fully relational: pad each
    document's tokens with <s>/</s>, count all 1..n-gram windows of the
    padded corpus, score every full n-length document window with the
    join-based order-n KN scorer, and aggregate perp = 10^(-Σlog10 p / N)
    per document (ModelPerplexity.java:76-84, PerpDoc.java:196-276;
    runeval.sh:54-60 evaluates at n=5 and n=3). Documents shorter than the
    order drop out (size guard — the join scorer nulls sub-order rows)."""
    from topicrawler_spark.lm.counting import count_ngrams, ngram_windows, score_kn_join

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    toks = F.split(_norm_text(F.col("text")), " ")
    padded = F.concat(F.array(F.lit("<s>")), toks, F.array(F.lit("</s>")))
    sent = docs.select("doc_id", padded.alias("tokens"))
    counts = count_ngrams(sent.select("tokens"), order=order).cache()
    grams = (
        sent.select("doc_id", F.explode(ngram_windows(F.col("tokens"), order)).alias("g"))
        .filter(F.size("g") == order)
        .select("doc_id", F.array_join("g", " ").alias("ngram"))
    )
    scored = score_kn_join(grams, counts, order)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.round(
            F.pow(F.lit(10.0), -(F.sum(F.round("kn_log10", 6)) / F.count(F.lit(1)))), 4
        ).alias(f"perp_kn{order}"),
    )


def q_doc_perplexity_kn3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 KN document perplexity (the reference's secondary eval
    order, runeval.sh) via the general join scorer."""
    return _doc_perp_kn_order(spark, sf_dir, 3)


def q_doc_perplexity_kn5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-5 KN document perplexity — the PRODUCTION decision variable at
    the production order (StartLM -n 5 -m 1; runeval.sh:54-60) via the
    general join scorer: the corpus-scale path a 100 TB crawl would score
    with when the topic LM outgrows a driver broadcast."""
    return _doc_perp_kn_order(spark, sf_dir, 5)



def _doc_mle_perp(spark: SparkSession, sf_dir: str):
    """Per-document MLE bigram perplexity over the corpus's own counts
    (every document bigram is in-vocabulary by construction, so the MLE
    probabilities are finite), rounded to 4 decimals.  Shared derivation
    for the writer-shape entries — the perp column the reference's writers
    serialize (SentenceWriter.java:219-231, DecesiveValueLogger.java:108-125).
    Returns (documents_df, (doc_id, perp) df); one-token documents carry no
    bigram and drop out, mirroring the min-2-words sentence gate."""
    from topicrawler_spark.lm.counting import count_ngrams, ngram_windows

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    toks = F.split(_norm_text(F.col("text")), " ")
    sent = docs.select("doc_id", toks.alias("tokens"))
    counts = count_ngrams(sent.select("tokens"), order=2)
    uni = counts.filter(F.col("n") == 1).select(
        F.col("ngram").alias("w1"), F.col("cnt").alias("c1")
    )
    bic = counts.filter(F.col("n") == 2).select("ngram", F.col("cnt").alias("c12"))
    bi = sent.select(
        "doc_id", F.explode(ngram_windows(F.col("tokens"), 2)).alias("g")
    ).select("doc_id", F.array_join("g", " ").alias("ngram"))
    scored = (
        bi.join(bic, "ngram")
        .withColumn("w1", F.split("ngram", " ")[0])
        .join(uni, "w1")
        .select("doc_id", F.round(F.log10("c12") - F.log10("c1"), 6).alias("lp"))
    )
    perp = (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                F.pow(F.lit(10.0), -(F.sum("lp") / F.count(F.lit(1)))), 4
            ).alias("perp")
        )
        # keep the %g oracle on its fixed-notation branch (perp is >=1 by
        # construction; the cap only guards a pathological corpus)
        .filter(F.col("perp") < 1e6)
    )
    return docs, perp


def q_sentence_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sentence-writer record shape (SentenceWriter.java:219-231):
    per-sentence rows with the reference's 12-char zero-padded ``%012g``
    perplexity serialization as the hash target.  Runs the real writer path
    (SentenceMaker pandas UDF + posexplode); the DuckDB oracle re-derives
    the records and emulates Java ``%g`` (6 significant digits, trailing
    zeros KEPT — unlike C ``printf``) in SQL."""
    from topicrawler_spark.crawl.writers import sentence_records

    docs, perp = _doc_mle_perp(spark, sf_dir)
    res = docs.join(perp, "doc_id").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text", "perp"
    )
    rec = sentence_records(res)
    return rec.select(
        "url",
        "seq_no",
        "sentence",
        F.format_string("%012g", F.col("perp")).alias("perp_g"),
    )


def q_decision_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity decision log (DecesiveValueLogger.java:108-125):
    ``%012g`` perp, priority directive/precedence, url, and the 50-char
    ``plain-abbrv`` column (commons-lang abbreviate + ASCII-ws collapse),
    all oracle-checked against an independent SQL twin."""
    from topicrawler_spark.crawl.priority import apply_priority
    from topicrawler_spark.crawl.writers import decision_log

    docs, perp = _doc_mle_perp(spark, sf_dir)
    d, c = apply_priority(F.col("perp"))
    res = docs.join(perp, "doc_id").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        "text",
        "perp",
        d.alias("directive"),
        c.alias("precedence"),
    )
    return decision_log(res).select(
        F.col("perp").alias("perp_g"), "directive", "precedence", "url", "abbr_text"
    )


def q_score_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentPerp analogue (lm/apps.py score_sentences): per-sentence KN
    perplexity records via the broadcast scorer — rows-only (the scorer is
    the pandas-UDF crawl path; the oracle-checked twins are
    ``doc_perplexity_kn2`` and the join scorers)."""
    from topicrawler_spark.lm.apps import score_sentences
    from topicrawler_spark.lm.counting import build_local_lm
    from topicrawler_spark.lm.perplexity import DocumentScorer

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    lm = build_local_lm(spark, docs.filter(F.col("doc_id") < 200), order=3)
    bc = spark.sparkContext.broadcast(DocumentScorer(lm, "kneser-ney"))
    return score_sentences(docs, bc).select(
        "doc_id", "seq_no", "sentence", F.round("perp", 4).alias("perp")
    )


def q_oov_reflm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PerplexityClient --oovreflm as a corpus-scale join: corpus bigrams
    kept iff their LAST word is in a second reference LM's vocabulary
    (here: the a-m half of the corpus vocabulary, so both the semi- and
    anti-join sides are non-empty)."""
    from topicrawler_spark.lm.apps import reference_vocab_split
    from topicrawler_spark.lm.counting import count_ngrams

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    sentences = docs.select(F.split(_norm_text(F.col("text")), " ").alias("tokens"))
    counts = count_ngrams(sentences, order=2)
    bigrams = counts.filter(F.col("n") == 2).select("ngram", "cnt")
    ref = (
        docs.select(F.explode(F.split(_norm_text(F.col("text")), " ")).alias("word"))
        .filter(F.col("word") < "n")
        .distinct()
    )
    kept, _dropped = reference_vocab_split(bigrams, ref)
    return kept.select("ngram", "cnt")


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.dedup import exact_duplicates

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"].select(
        "doc_id", "text"
    )
    # The synthetic documents table has zero identical texts at every SF, so a
    # bare run is vacuously correct. Inject deterministic exact duplicates
    # (every 7th doc copied under id+1_000_000) so the oracle proves the
    # group-by-normalized-text path on real multi-member groups.
    injected = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    dups = exact_duplicates(docs.unionByName(injected), "doc_id", "text")
    return dups.select(
        F.element_at("doc_ids", 1).alias("min_id"), F.col("group_size")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = (
        _load(spark, sf_dir, "documents", spread=True)["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    # No natural pair in the synthetic corpus clears jaccard 0.2 (max ~0.03),
    # so inject near-duplicates: every 3rd doc reappears under id+1000 with
    # one appended token — its shingle set is the original's plus one, so the
    # planted pairs score n/(n+1) and the oracle checks real matches.
    variants = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqxplanted")).alias("text"),
    )
    pairs = ngram_jaccard_pairs(docs.unionByName(variants), shingle_k=3, threshold=0.2)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dedup pipeline in one oracled entry: pair finder
    (``ngram_jaccard_pairs``) -> transitive closure
    (``connected_components``, large-star/small-star) -> canonical keep
    (``dedup_by_components``). Planted structure makes every stage earn its
    keep: every 3rd doc reappears with one appended token (id+1000), every
    6th additionally under id-1000 with two appended tokens — so clusters of
    size 3 exist whose canonical minimum is a PLANTED id, and the kept set is
    not simply the original ids. DuckDB oracle: shingle-join jaccard +
    recursive min-label CTE + keep-where-min."""
    from topicrawler_spark.pipeline.dedup import (
        connected_components,
        dedup_by_components,
        ngram_jaccard_pairs,
    )

    docs = (
        _load(spark, sf_dir, "documents", spread=True)["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    v_pos = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqxplanted")).alias("text"),
    )
    v_neg = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") - 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqxplanted zqxtwo")).alias("text"),
    )
    corpus = docs.unionByName(v_pos).unionByName(v_neg)
    pairs = ngram_jaccard_pairs(corpus, shingle_k=3, threshold=0.2)
    comp = connected_components(pairs, "a", "b")
    kept = dedup_by_components(corpus, comp, "doc_id")
    return kept.select("doc_id", F.length("text").alias("n_chars_kept"))


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup — the boilerplate-removal
    pass of LLM corpus curation. The synthetic docs have no paragraph
    breaks, so the entry deterministically builds them on both sides: the
    token stream chunked into 10-token paragraphs joined by blank lines,
    with a shared cookie-banner paragraph planted at the front of every 4th
    document. Returns the per-doc rollup: paragraph count, corpus-wide
    duplicate paragraphs, kept-first count, duplicate ratio."""
    from topicrawler_spark.pipeline.dedup import paragraph_dedup_stats

    docs = (
        _load(spark, sf_dir, "documents", spread=True)["documents"]
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    body = F.array_join(chunks, "\n\n")
    text_p = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("zqx cookie banner accept all\n\n"), body),
    ).otherwise(body)
    pdocs = docs.select("doc_id", text_p.alias("text"))
    return paragraph_dedup_stats(pdocs)


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    t = F.col("text")
    words = F.split(F.trim(t), r"\s+")
    n_chars = F.length(t)
    n_words = F.when(F.trim(t) == "", 0).otherwise(F.size(words))
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_q"),
        n_words.alias("n_words"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6).alias("alpha_ratio"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.textstats import whitespace_token_count

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    return docs.select("doc_id", whitespace_token_count(F.col("text")).alias("n_tokens"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    return docs.select("doc_id", F.md5(_norm_text(F.col("text"))).alias("fp"))


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate CLUSTERS: the transitive-closure half
    of near-dup dedup. Pair finders (minhash_lsh / embedding_pairs) emit
    PAIRS; deduping needs the components those pairs imply, or A~B, B~C
    still keeps both A and C. Edges here are the exact cosine graph at
    threshold 0.35 (round-5 like the oracled ``embedding_pairs``, so both
    engines agree on boundary pairs); components come from alternating
    large-star/small-star (``connected_components``), each node mapped to
    its component's minimum vec_id — the canonical representative a dedup
    pass would keep. Isolated vectors map to themselves. At 100 TB the
    edge generator is the LSH/ANN bucket join instead of the all-pairs
    cross; the contraction is the same. DuckDB oracle: recursive CTE
    propagating minimum reachable labels."""
    from topicrawler_spark.pipeline.dedup import connected_components
    from topicrawler_spark.pipeline.similarity import cosine_expr

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").cast("array<double>").alias("vb"))
    edges = (
        a.join(b, F.col("a") < F.col("b"))
        .where(F.round(cosine_expr(F.col("va"), F.col("vb")), 5) >= 0.35)
        .select("a", "b")
    )
    comp = connected_components(edges, "a", "b")
    return emb.join(comp, emb["vec_id"] == comp["node"], "left").select(
        "vec_id", F.coalesce(F.col("component"), F.col("vec_id")).alias("component")
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the first vector (exact baseline)."""
    from topicrawler_spark.pipeline.similarity import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    top = brute_force_topk(emb, q, k=10)
    return top.select("vec_id", F.round("cosine", 5).alias("cosine"))


def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine over a small id range (exact, JVM-side arithmetic)."""
    from topicrawler_spark.pipeline.similarity import cosine_expr

    emb = _load(spark, sf_dir, "embeddings")["embeddings"].filter(F.col("vec_id") < 40)
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine_expr(F.col("va"), F.col("vb")), 5).alias("cosine"))
        .filter(F.col("cosine") > 0.2)
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _load(spark, sf_dir, "orders", "lineitem", "customer")
    rev = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return (
        t["orders"]
        .join(rev, t["orders"]["o_orderkey"] == rev["l_orderkey"])
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_name", "revenue")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(20)
    )


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _load(spark, sf_dir, "region", "nation", "customer", "orders", "lineitem")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy("r_name")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _load(spark, sf_dir, "events")["events"]
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap via lag window (the batch
    equivalent of session windows)."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # full-precision epoch (unix_timestamp truncates sub-second components,
    # which would flip gap decisions near the boundary vs the oracle)
    epoch = F.col("ts").cast("timestamp_ltz").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    marked = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = marked.withColumn(
        "sess_no", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("start_epoch"),
            F.unix_timestamp(F.max("ts")).alias("end_epoch"),
        )
    )


def q_user_event_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")["events"]
    per_user = ev.groupBy("user_id", "event_type").agg(F.round(F.sum("value"), 4).alias("total"))
    w = Window.partitionBy("event_type").orderBy(F.desc("total"), "user_id")
    return per_user.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


# --- rows-only checked ops (non-SQL-expressible or hash-function-bound) -------


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.dedup import minhash_lsh_pairs

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    return minhash_lsh_pairs(docs, n_hashes=32, bands=8, shingle_k=3)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.dedup import simhash_pairs

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    return simhash_pairs(docs, max_hamming=10, shingle_k=2)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.similarity import ann_topk

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return ann_topk(emb, q, k=10, n_tables=12, n_planes=8)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: spherical-k-means coarse quantizer (trained on
    a bounded deterministic sample), one Arrow assignment pass, probe the 3
    nearest inverted lists, exact cosine re-rank inside. The FAISS-style
    scale path beside the LSH one: the index is one corpus pass + a
    list_id-partitionable table, a query touches n_probe/n_centroids of the
    data. Approximate by construction -> rows-only (no DuckDB twin); the
    pytest guarantee proves recall and that probing all lists reproduces the
    exact answer (tests/test_pipeline.py::test_ivf_recall_and_determinism)."""
    from topicrawler_spark.pipeline.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return ivf_topk(emb, q, k=10, n_centroids=16, n_probe=3, seed=42)


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.textstats import make_langid_udf

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    lid = make_langid_udf()
    return docs.groupBy(lid(F.col("text")).alias("lang_detected")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from topicrawler_spark.pipeline.textstats import winnowing_fingerprints

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"].filter(F.col("doc_id") < 50)
    return winnowing_fingerprints(docs).select("doc_id", F.size("fingerprints").alias("n_fp"))


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-identical extraction pipeline over synthesized html."""
    from topicrawler_spark.functions.udfs import make_extract_text_udf

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    html = F.encode(
        F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p><a href='x.html'>x</a></body></html>")),
        "utf-8",
    )
    ext = make_extract_text_udf("ext")
    return docs.select("doc_id", ext(html).alias("extracted"))


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document KN perplexity against an LM built from the corpus itself
    (broadcast scorer inside a pandas UDF — the crawl scoring path)."""
    from topicrawler_spark.lm.counting import build_local_lm
    from topicrawler_spark.lm.perplexity import DocumentScorer
    from topicrawler_spark.functions.udfs import make_perplexity_udf

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    lm = build_local_lm(spark, docs.filter(F.col("doc_id") < 200), order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    bc = spark.sparkContext.broadcast(scorer)
    return docs.select("doc_id", F.round(make_perplexity_udf(bc)(F.col("text")), 4).alias("perp"))


def q_crawl_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full crawl round on a deterministic synthetic web corpus."""
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=60, n_hosts=5, n_seeds=2, seed=42)
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    cfg = CrawlConfig(order=3, per_host_quota=3, max_hops=10)
    pages = pages_dataframe(spark, corpus)
    run = run_crawl(spark, pages, corpus.seeds, scorer, 1, cfg)
    return run.state.frontier.select("canon", "host", "directive", "precedence", "hops")


def q_crawl_round_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full crawl round scored RELATIONALLY (cfg.score_mode='join'): the
    page perplexity comes from the order-n KN join scorer over the
    count-table DataFrame instead of a broadcast in-memory LM — the
    corpus-scale decision path (parity with the broadcast round is
    pytest-asserted in tests/test_join_crawl.py)."""
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=60, n_hosts=5, n_seeds=2, seed=42)
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    cfg = CrawlConfig(order=3, per_host_quota=3, max_hops=10, score_mode="join")
    lm_counts = spark.createDataFrame(
        [(g, len(g.split(" ")), c) for g, c in lm.counts.items()],
        "ngram string, n int, cnt long",
    )
    pages = pages_dataframe(spark, corpus)
    run = run_crawl(spark, pages, corpus.seeds, scorer, 1, cfg, lm_counts=lm_counts)
    return run.state.frontier.select("canon", "host", "directive", "precedence", "hops")


def q_crawl_round_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two join-scored crawl rounds with the incremental topic-LM refresh
    (cfg.lm_refresh_every=1): after round 1, the focused pages' n-gram
    counts are summed into the count table (extend_lm_counts — one union +
    hash aggregate) and the KN join scorer is rebuilt, so round 2 scores
    against the grown LM. Rows-only check (multi-round stateful); the
    refresh guarantees — extend==recount exactness, no-op parity with the
    static LM, checkpoint commit + resume preference — are pytest-asserted
    in tests/test_incremental_lm.py."""
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=60, n_hosts=5, n_seeds=2, seed=42)
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    cfg = CrawlConfig(
        order=3, per_host_quota=3, max_hops=10, score_mode="join",
        lm_refresh_every=1,
    )
    lm_counts = spark.createDataFrame(
        [(g, len(g.split(" ")), c) for g, c in lm.counts.items()],
        "ngram string, n int, cnt long",
    )
    pages = pages_dataframe(spark, corpus)
    run = run_crawl(spark, pages, corpus.seeds, scorer, 2, cfg, lm_counts=lm_counts)
    return run.state.frontier.select("canon", "host", "directive", "precedence", "hops")


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel statistics over REAL PNG blobs: deterministic per-document PNGs
    are generated executor-side (stdlib encoder), then decoded by the
    stdlib PNG kernel (zlib inflate + filter reconstruction) inside the
    mapInPandas feature pass — strict mode, so a stub fallback would fail
    loudly. Rows-only check: binary decode is not SQL-expressible."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import BinaryType

    from topicrawler_spark.pipeline.multimodal import encode_png, image_features

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"].filter(F.col("doc_id") < 50)

    @F.pandas_udf(BinaryType())
    def make_png(doc_id: pd.Series) -> pd.Series:
        def go(d):
            rng = np.random.default_rng(int(d))
            return encode_png(rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8))

        return doc_id.map(go)

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        make_png("doc_id").alias("content"),
        F.lit("image/png").alias("mime"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = image_features(media, feature_dim=8, strict=True)
    # project the array column to sortable scalars — the driver's row
    # canonicalizer cannot hash/sort python lists
    return feats.select(
        "media_id",
        "n_bytes",
        "sha_hash",
        F.size("features").alias("n_features"),
        F.round(
            F.expr("aggregate(features, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))"), 6
        ).alias("feat_sum"),
    )


def q_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS energy over REAL 16-bit PCM WAV blobs: deterministic
    per-document sine tones are written executor-side (stdlib encoder) and
    decoded by the stdlib RIFF/PCM kernel inside the mapInPandas pass —
    strict mode, so a stub fallback would fail loudly. Rows-only check:
    binary feature extraction is not SQL-expressible."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import BinaryType

    from topicrawler_spark.pipeline.multimodal import audio_features, encode_wav

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"].filter(F.col("doc_id") < 50)

    @F.pandas_udf(BinaryType())
    def make_wav(doc_id: pd.Series) -> pd.Series:
        def go(d):
            rate = 8000
            freq = 100.0 + (int(d) % 40) * 10.0
            t = np.arange(rate, dtype=np.float64) / rate  # 1 s tone
            return encode_wav(0.5 * np.sin(2 * np.pi * freq * t), rate)

        return doc_id.map(go)

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        make_wav("doc_id").alias("content"),
        F.lit("audio/wav").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(1000).cast("long").alias("duration_ms"),
    )
    feats = audio_features(media, window_ms=500, strict=True)
    return feats.select(
        "media_id",
        "n_bytes",
        "n_windows",
        F.round(
            F.expr("aggregate(energy, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))"), 6
        ).alias("energy_sum"),
    )


def q_sample_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque video blobs (1:N mapInPandas explode).
    The decoder is the marked STUB (no video codec in this container); row
    counts, timestamps, ordering and the binary frame column are the real
    plumbing. Frame bytes project to a hash for sortable output."""
    from topicrawler_spark.pipeline.multimodal import sample_video_frames

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"].filter(F.col("doc_id") < 50)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.lit("video/mp4").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.length(F.col("text")) * 10).cast("long").alias("duration_ms"),
    )
    frames = sample_video_frames(media, every_ms=1000)
    return frames.select(
        "media_id", "frame_idx", "ts_ms",
        F.length("frame").alias("frame_bytes"),
        F.xxhash64("frame").alias("frame_hash"),
    )


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the focused-crawl scoring + prioritization pipeline on
    sf0.001 — build an LM from documents, score every document's text,
    bucket into frontier priority classes."""
    sf_dir = "/root/testdata/sf0.001"
    from topicrawler_spark.crawl.priority import apply_priority
    from topicrawler_spark.functions.udfs import make_perplexity_udf
    from topicrawler_spark.lm.counting import build_local_lm
    from topicrawler_spark.lm.perplexity import DocumentScorer

    docs = _load(spark, sf_dir, "documents", spread=True)["documents"]
    lm = build_local_lm(spark, docs.filter(F.col("doc_id") < 100), order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    bc = spark.sparkContext.broadcast(scorer)
    scored = docs.select("doc_id", make_perplexity_udf(bc)(F.col("text")).alias("perp"))
    d, c = apply_priority(F.col("perp"))
    return (
        scored.select("doc_id", "perp", d.alias("directive"), c.alias("cost"))
        .groupBy("directive")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("perp"), 4).alias("avg_perp"))
        .orderBy("directive")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "canonicalize": q_canonicalize,
        "host_classkey": q_host_classkey,
        "priority_assignment": q_priority_assignment,
        "politeness_topk": q_politeness_topk,
        "frontier_dedup": q_frontier_dedup,
        "queue_budget": q_queue_budget,
        "ngram_count": q_ngram_count,
        "ngram_mincount": q_ngram_mincount,
        "vocab": q_vocab,
        "nfollow": q_nfollow,
        "count_histogram": q_count_histogram,
        "mle_bigram_logprob": q_mle_bigram_logprob,
        "laplace_bigram_logprob": q_laplace_bigram_logprob,
        "stupid_backoff_bigram": q_stupid_backoff_bigram,
        "kn_bigram_logprob": q_kn_bigram_logprob,
        "kn_trigram_logprob": q_kn_trigram_logprob,
        "stupid_backoff_trigram": q_stupid_backoff_trigram,
        "doc_perplexity_kn2": q_doc_perplexity_kn2,
        "doc_perplexity_kn3": q_doc_perplexity_kn3,
        "doc_perplexity_kn5": q_doc_perplexity_kn5,
        "sentence_records_fmt": q_sentence_records,
        "decision_log_fmt": q_decision_log,
        "oov_reflm_split": q_oov_reflm_split,
        "exact_dup_groups": q_exact_dup_groups,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_end_to_end": q_dedup_end_to_end,
        "paragraph_dedup": q_paragraph_dedup,
        "doc_quality": q_doc_quality,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "embedding_topk": q_embedding_topk,
        "embedding_pairs": q_embedding_pairs,
        "neardup_components": q_neardup_components,
        "pricing_summary": q_pricing_summary,
        "top_orders": q_top_orders,
        "region_revenue": q_region_revenue,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "user_event_rank": q_user_event_rank,
        # rows-only (hash-function-bound or UDF-bound; no SQL oracle)
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "langid": q_langid,
        "winnowing": q_winnowing,
        "extract_text": q_extract_text,
        "doc_perplexity": q_doc_perplexity,
        "crawl_round": q_crawl_round,
        "crawl_round_join": q_crawl_round_join,
        "crawl_round_incremental": q_crawl_round_incremental,
        "image_features": q_image_features,
        "audio_energy": q_audio_energy,
        "sample_video_frames": q_sample_video_frames,
        "score_sentences": q_score_sentences,
    }


def oracle_sql() -> dict[str, str]:
    urls_cte = f"urls AS (SELECT {_DUCK_URL} AS url, o_orderkey, o_custkey FROM orders)"
    toks_cte = f"toks AS (SELECT doc_id, {_DUCK_TOKS} AS tok FROM documents)"
    bigrams_cte = (
        toks_cte
        + """,
grams AS (
  SELECT tok[i] || ' ' || tok[i+1] AS ngram
  FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)
)"""
    )
    return {
        "canonicalize": f"WITH {urls_cte}, {_DUCK_CANON_CTE.lstrip()} "
        "SELECT url, canon FROM canonized ORDER BY url",
        "host_classkey": f"""
WITH {urls_cte}, {_DUCK_CANON_CTE.lstrip()},
hosted AS (
  SELECT url,
    CASE WHEN regexp_extract(canon, '^([a-z][a-z0-9+.-]*)://', 1) = 'https'
              AND NOT regexp_matches(regexp_extract(canon, '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/]*)', 1), '.+:[0-9]+$')
         THEN regexp_extract(canon, '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/]*)', 1) || ':443'
         ELSE regexp_extract(canon, '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/]*)', 1)
    END AS rawhost
  FROM canonized
)
SELECT url, replace(rawhost, ':', '#') AS host,
       regexp_extract(regexp_replace(replace(rawhost, ':', '#'), '#[0-9]+$', ''), '([^.]+\\.[^.]+)$', 1) AS sld
FROM hosted
""",
        "priority_assignment": """
WITH p AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice % 60000.0 AS perp FROM lineitem
),
d AS (
  SELECT l_orderkey, l_linenumber, perp,
    CASE WHEN perp <= 1.0 THEN -1
         WHEN perp <= 500.0 THEN 1
         WHEN perp <= 5000.0 THEN 2
         ELSE 3 END AS directive
  FROM p
)
SELECT l_orderkey, l_linenumber, round(perp, 4) AS perp, directive,
  CASE WHEN directive = 1 THEN 4
       WHEN directive = 2 THEN 8
       WHEN directive = -1 THEN 127
       WHEN perp >= 50000.0 THEN 127
       ELSE CAST(ceil((ln(1+perp) - ln(1+5000.0)) * (127.0-64.0)/(ln(1+50000.0)-ln(1+5000.0)) + 64.0) AS INT)
  END AS cost
FROM d
""",
        "politeness_topk": """
WITH frontier AS (
  SELECT CAST(l_suppkey % 25 AS VARCHAR) AS host,
         CAST(l_orderkey % 4 AS INT) AS directive,
         CAST(l_partkey % 128 AS INT) AS precedence,
         l_orderkey AS ord_r,
         CAST(l_linenumber AS BIGINT) AS ord_k
  FROM lineitem
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY directive, precedence, ord_r, ord_k) AS host_rank
  FROM frontier
)
SELECT host, directive, precedence, ord_r, ord_k, host_rank FROM ranked WHERE host_rank <= 5
""",
        "frontier_dedup": f"""
WITH {urls_cte}, {_DUCK_CANON_CTE.lstrip()},
cands AS (SELECT c.canon, u.o_orderkey FROM canonized c JOIN urls u USING (url)),
seen AS (SELECT DISTINCT canon FROM cands WHERE o_orderkey % 3 = 0)
SELECT canon, count(*) AS n, min(o_orderkey) AS first_key
FROM cands WHERE canon NOT IN (SELECT canon FROM seen)
GROUP BY canon
""",
        "queue_budget": """
SELECT CAST(l_suppkey % 25 AS VARCHAR) AS host, count(*) AS fetched,
       CAST(count(*) >= 2000 AS INT) AS retired
FROM lineitem GROUP BY 1
""",
        "ngram_count": f"WITH {bigrams_cte} SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram",
        "ngram_mincount": f"""
WITH {toks_cte},
g1 AS (SELECT tok[i] AS ngram, 1 AS n FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram, 2 AS n FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
g3 AS (SELECT tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS ngram, 3 AS n FROM toks, UNNEST(generate_series(1, len(tok)-2)) AS t(i)),
allg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3)
SELECT ngram, n, count(*) AS cnt FROM allg GROUP BY ngram, n HAVING count(*) >= 5
""",
        "vocab": f"""
WITH {toks_cte}
SELECT word, count(*) AS cnt FROM (SELECT unnest(tok) AS word FROM toks) GROUP BY word
""",
        "nfollow": f"""
WITH {bigrams_cte},
counts AS (SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram),
uni AS (SELECT tok[i] AS ngram FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
ucounts AS (SELECT ngram FROM uni GROUP BY ngram),
nf AS (
  SELECT string_split(ngram, ' ')[1] AS key,
         count(*) FILTER (cnt = 1) AS nf_n1,
         count(*) FILTER (cnt = 2) AS nf_n2,
         count(*) FILTER (cnt >= 3) AS nf_n3
  FROM counts GROUP BY 1
),
np AS (
  SELECT string_split(ngram, ' ')[2] AS key,
         count(*) FILTER (cnt = 1) AS np_n1,
         count(*) FILTER (cnt = 2) AS np_n2,
         count(*) FILTER (cnt >= 3) AS np_n3
  FROM counts GROUP BY 1
)
SELECT u.ngram AS ngram,
       coalesce(nf.nf_n1, 0) AS nf_n1, coalesce(nf.nf_n2, 0) AS nf_n2, coalesce(nf.nf_n3, 0) AS nf_n3,
       coalesce(np.np_n1, 0) AS np_n1, coalesce(np.np_n2, 0) AS np_n2, coalesce(np.np_n3, 0) AS np_n3
FROM ucounts u LEFT JOIN nf ON u.ngram = nf.key LEFT JOIN np ON u.ngram = np.key
""",
        "count_histogram": f"""
WITH {toks_cte},
g1 AS (SELECT tok[i] AS ngram, 1 AS n FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram, 2 AS n FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
counts AS (SELECT ngram, n, count(*) AS cnt FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) GROUP BY ngram, n)
SELECT n, least(cnt, 5) AS cls, count(*) AS num, CAST(sum(cnt) AS BIGINT) AS total
FROM counts GROUP BY 1, 2
""",
        "mle_bigram_logprob": f"""
WITH {bigrams_cte},
counts AS (SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram),
uni AS (SELECT tok[i] AS ngram FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
ucounts AS (SELECT ngram, count(*) AS cnt FROM uni GROUP BY ngram)
SELECT c.ngram AS ngram,
       round(log10(c.cnt) - log10(u.cnt), 6) AS log10p
FROM counts c JOIN ucounts u ON string_split(c.ngram, ' ')[1] = u.ngram
""",
        "laplace_bigram_logprob": f"""
WITH {toks_cte},
g1 AS (SELECT tok[i] AS ngram FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
uc AS (SELECT ngram, count(*) AS cnt FROM g1 GROUP BY 1),
bc AS (SELECT ngram, count(*) AS cnt FROM g2 GROUP BY 1),
cand AS (SELECT DISTINCT ngram FROM (
  SELECT ngram FROM bc
  UNION ALL
  SELECT string_split(ngram, ' ')[2] || ' ' || string_split(ngram, ' ')[1] FROM bc)),
j AS (
  SELECT cand.ngram, bc.cnt AS c12, c1.cnt AS c1
  FROM cand
  LEFT JOIN bc ON cand.ngram = bc.ngram
  LEFT JOIN uc c1 ON string_split(cand.ngram, ' ')[1] = c1.ngram
)
SELECT ngram,
  round(log10(coalesce(c12, 0) + 1)
        - log10(coalesce(c1, 0) + (SELECT count(*) FROM uc)), 6) AS log10p
FROM j
""",
        "stupid_backoff_bigram": f"""
WITH {toks_cte},
g1 AS (SELECT tok[i] AS ngram FROM toks, UNNEST(generate_series(1, len(tok))) AS t(i)),
g2 AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
uc AS (SELECT ngram, count(*) AS cnt FROM g1 GROUP BY 1),
bc AS (SELECT ngram, count(*) AS cnt FROM g2 GROUP BY 1),
cand AS (SELECT DISTINCT ngram FROM (
  SELECT ngram FROM bc
  UNION ALL
  SELECT string_split(ngram, ' ')[2] || ' ' || string_split(ngram, ' ')[1] FROM bc)),
j AS (
  SELECT cand.ngram, bc.cnt AS c12, c1.cnt AS c1, c2.cnt AS c2
  FROM cand
  LEFT JOIN bc ON cand.ngram = bc.ngram
  LEFT JOIN uc c1 ON string_split(cand.ngram, ' ')[1] = c1.ngram
  LEFT JOIN uc c2 ON string_split(cand.ngram, ' ')[2] = c2.ngram
)
SELECT ngram,
  round(log10(CASE
    WHEN c2 IS NULL THEN 0.4 / ((SELECT count(*) FROM uc) + 1.0)
    WHEN c12 IS NOT NULL THEN c12 / CAST(c1 AS DOUBLE)
    ELSE c2 / CAST((SELECT count(*) FROM uc) AS DOUBLE)
  END), 6) AS sb_log10
FROM j
""",
        # the KN oracles replicate the engine branch-for-branch (see _kn2_core)
        "kn_bigram_logprob": "WITH srctoks AS (SELECT doc_id, "
        + _DUCK_TOKS
        + " AS tok FROM documents),"
        + _kn2_core(
            "SELECT DISTINCT ngram FROM (SELECT ngram FROM bc UNION ALL "
            "SELECT string_split(ngram, ' ')[2] || ' ' || string_split(ngram, ' ')[1] FROM bc)"
        )
        + "\nSELECT ngram, round(log10(least(greatest(pkn, punk), 1.0)), 6) AS kn_log10 FROM k",
        "kn_trigram_logprob": _KN3_SQL_TMPL.format(TOKS=toks_cte),
        "stupid_backoff_trigram": _SB3_SQL_TMPL.format(TOKS=toks_cte),
        # per-document KN2 perplexity: the bigram-KN core over <s>/</s>-padded
        # tokens, then the ModelPerplexity aggregate 10^(-Σlog10 p / N) per doc
        "doc_perplexity_kn2": "WITH srctoks AS (SELECT doc_id, ['<s>'] || "
        + _DUCK_TOKS
        + " || ['</s>'] AS tok FROM documents),"
        + _kn2_core("SELECT DISTINCT ngram FROM bc")
        + """,
db AS (SELECT doc_id, tok[i] || ' ' || tok[i+1] AS ngram FROM srctoks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
k2 AS (SELECT ngram, round(log10(least(greatest(pkn, punk), 1.0)), 6) AS l FROM k)
SELECT doc_id, count(*) AS n_ngrams, round(pow(10.0, -(sum(l)/count(*))), 4) AS perp_kn2
FROM db JOIN k2 USING (ngram) GROUP BY doc_id""",
        # generated order-n KN cascades (validated == the hand-written kn2
        # oracle at n=2 and == LocalLM at n=3/5 on the same corpus)
        "doc_perplexity_kn3": _kn_doc_sql(3),
        "doc_perplexity_kn5": _kn_doc_sql(5),
        # writer shapes: MLE doc-perp + Java-%g emulation (6 significant
        # digits, trailing zeros KEPT, zero-padded to width 12; DuckDB's
        # printf is C-style %g and strips trailing zeros, so the oracle
        # rebuilds the fixed-notation branch: e = floor(log10(perp)),
        # corrected when rounding carries into the next decade, then
        # format('{:.{}f}') at 5-e decimals)
        "sentence_records_fmt": _WRITER_PERP_CTES
        + """,
rec AS (SELECT t.url, 0 AS seq_no, t.text AS sentence, pp.perp,
               CAST(floor(log10(pp.perp)) AS INT) AS e0
        FROM wtoks t JOIN pp USING (doc_id)),
rec2 AS (SELECT *, CASE WHEN round(perp, 5 - e0) >= pow(10, e0 + 1) THEN e0 + 1 ELSE e0 END AS e FROM rec)
SELECT url, seq_no, sentence,
       lpad(format('{:.{}f}', round(perp, 5 - e), 5 - e), 12, '0') AS perp_g
FROM rec2
""",
        "decision_log_fmt": _WRITER_PERP_CTES
        + r""",
base AS (SELECT t.url, t.text, pp.perp FROM wtoks t JOIN pp USING (doc_id)),
pr AS (SELECT *, CASE WHEN perp <= 1.0 THEN -1
                      WHEN perp <= 500.0 THEN 1
                      WHEN perp <= 5000.0 THEN 2
                      ELSE 3 END AS directive FROM base),
pr2 AS (SELECT *,
        CASE WHEN directive = 1 THEN 4
             WHEN directive = 2 THEN 8
             WHEN directive = -1 THEN 127
             WHEN perp >= 50000.0 THEN 127
             ELSE CAST(ceil((ln(1+perp) - ln(1+5000.0)) * (127.0-64.0)/(ln(1+50000.0)-ln(1+5000.0)) + 64.0) AS INT)
        END AS precedence,
        CAST(floor(log10(perp)) AS INT) AS e0 FROM pr),
pr3 AS (SELECT *, CASE WHEN round(perp, 5 - e0) >= pow(10, e0 + 1) THEN e0 + 1 ELSE e0 END AS e FROM pr2)
SELECT lpad(format('{:.{}f}', round(perp, 5 - e), 5 - e), 12, '0') AS perp_g,
       directive, precedence, url,
       regexp_replace(CASE WHEN length(text) <= 50 THEN text
                           ELSE substr(text, 1, 47) || '...' END,
                      '[ \t\n\x0b\f\r]+', ' ', 'g') AS abbr_text
FROM pr3
""",
        "oov_reflm_split": f"""
WITH {toks_cte},
grams AS (SELECT tok[i] || ' ' || tok[i+1] AS ngram
          FROM toks, UNNEST(generate_series(1, len(tok)-1)) AS t(i)),
counts AS (SELECT ngram, count(*) AS cnt FROM grams GROUP BY 1),
ref AS (SELECT DISTINCT word FROM (SELECT unnest({_DUCK_TOKS}) AS word FROM documents) WHERE word < 'n')
SELECT ngram, cnt FROM counts
WHERE string_split(ngram, ' ')[2] IN (SELECT word FROM ref)
""",
        "exact_dup_groups": f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
),
n AS (SELECT doc_id, {_DUCK_NORM} AS nt FROM base)
SELECT min(doc_id) AS min_id, count(*) AS group_size
FROM n GROUP BY nt HAVING count(*) > 1
""",
        "ngram_jaccard": r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 1000, text || ' zqxplanted' FROM documents
  WHERE doc_id < 100 AND doc_id % 3 = 0
),
n AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS tok
           FROM base),
sh AS (
  SELECT DISTINCT doc_id, tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS s
  FROM n, UNNEST(generate_series(1, len(tok)-2)) AS t(i)
  WHERE len(tok) >= 3
  UNION
  SELECT DISTINCT doc_id, array_to_string(tok, ' ') AS s FROM n WHERE len(tok) < 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
  FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.doc_id JOIN sizes sb ON inter.b = sb.doc_id
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
""",
        "dedup_end_to_end": r"""
WITH RECURSIVE
base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 1000, text || ' zqxplanted' FROM documents
  WHERE doc_id < 100 AND doc_id % 3 = 0
  UNION ALL
  SELECT doc_id - 1000, text || ' zqxplanted zqxtwo' FROM documents
  WHERE doc_id < 100 AND doc_id % 6 = 0
),
n AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS tok
      FROM base),
sh AS (
  SELECT DISTINCT doc_id, tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS s
  FROM n, UNNEST(generate_series(1, len(tok)-2)) AS t(i)
  WHERE len(tok) >= 3
  UNION
  SELECT DISTINCT doc_id, array_to_string(tok, ' ') AS s FROM n WHERE len(tok) < 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
  FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
p AS (
  SELECT a, b
  FROM inter JOIN sizes sa ON inter.a = sa.doc_id JOIN sizes sb ON inter.b = sb.doc_id
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
),
ed AS (SELECT a AS i, b AS j FROM p UNION ALL SELECT b AS i, a AS j FROM p),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM base
  UNION
  SELECT ed.j, reach.comp FROM reach JOIN ed ON ed.i = reach.id
  WHERE reach.comp < ed.j
),
comp AS (SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id)
SELECT base.doc_id, length(base.text) AS n_chars_kept
FROM base JOIN comp ON base.doc_id = comp.doc_id
WHERE comp.component = base.doc_id
""",
        "paragraph_dedup": r"""
WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS tok
           FROM documents WHERE doc_id < 200),
chunks AS (
  SELECT doc_id,
         i + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS para_idx,
         array_to_string(tok[(i*10+1):(i*10+10)], ' ') AS para
  FROM d, UNNEST(generate_series(0, CAST(ceil(len(tok)/10.0) AS INT) - 1)) AS t(i)
),
paras AS (
  SELECT doc_id, para_idx, para FROM chunks WHERE trim(para) <> ''
  UNION ALL
  SELECT doc_id, 0, 'zqx cookie banner accept all' FROM d WHERE doc_id % 4 = 0
),
flags AS (
  SELECT doc_id,
    count(*) OVER (PARTITION BY lower(regexp_replace(trim(para), '\s+', ' ', 'g'))) AS n_occ,
    row_number() OVER (PARTITION BY lower(regexp_replace(trim(para), '\s+', ' ', 'g'))
                       ORDER BY doc_id, para_idx) AS rn
  FROM paras
)
SELECT doc_id, count(*) AS n_paras,
  sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup_paras,
  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
  round(avg(CASE WHEN n_occ > 1 THEN 1.0 ELSE 0.0 END), 6) AS dup_ratio
FROM flags GROUP BY doc_id
""",
        "doc_quality": r"""
SELECT doc_id,
  length(text) AS n_chars_q,
  CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split(trim(text), ' ')) END AS n_words,
  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1), 6) AS alpha_ratio
FROM documents
""",
        "token_counts": r"""
SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
FROM documents
""",
        "doc_fingerprint": f"SELECT doc_id, md5({_DUCK_NORM}) AS fp FROM documents",
        "embedding_topk": """
WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT vec_id, round(list_cosine_similarity(embedding, (SELECT qv FROM q)), 5) AS cosine
FROM embeddings
ORDER BY list_cosine_similarity(embedding, (SELECT qv FROM q)) DESC, vec_id
LIMIT 10
""",
        "embedding_pairs": """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.embedding, b.embedding), 5) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding, b.embedding), 5) > 0.2
""",
        # connected components of the cosine>=0.35 near-dup graph: the
        # recursive CTE propagates every label smaller than the node it
        # reaches; min per node = the component minimum (the same canonical
        # representative the large-star/small-star contraction yields)
        "neardup_components": """
WITH RECURSIVE
p AS (SELECT a.vec_id AS i, b.vec_id AS j
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding, b.embedding), 5) >= 0.35),
ed AS (SELECT i, j FROM p UNION ALL SELECT j AS i, i AS j FROM p),
reach(id, comp) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT ed.j, reach.comp FROM reach JOIN ed ON ed.i = reach.id
    WHERE reach.comp < ed.j
)
SELECT id AS vec_id, min(comp) AS component FROM reach GROUP BY id
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "top_orders": """
WITH rev AS (
  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey, c_name, revenue
FROM orders JOIN rev ON o_orderkey = rev.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, o_orderkey
LIMIT 20
""",
        "region_revenue": """
SELECT r_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""",
        "events_hourly": """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
        "events_sessions": """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
  FROM g
)
SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no, count(*) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch
FROM s GROUP BY user_id, sess_no
""",
        "user_event_rank": """
WITH t AS (
  SELECT user_id, event_type, round(sum(value), 4) AS total
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type, total,
       row_number() OVER (PARTITION BY event_type ORDER BY total DESC, user_id) AS rnk
FROM t QUALIFY rnk <= 5
""",
    }
