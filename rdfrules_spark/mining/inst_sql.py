"""The instantiated-head confidence laws (shapes s6-s9) as one SQL text,
run by two executors:

  * below the driver-local gate, DuckDB over the integer-coded tables of
    mining/local_constants.py (``text.format(T=..., R=..., inj=...)``
    naming registered frames); binding sets never leave DuckDB;
  * above it, Spark SQL in mining/measures_constants.py
    (``spark.sql(text, T=df, R=df, inj=bool)``, which names the frames by
    temporary views dropped after analysis).

Inputs:
  {T}    the triples (s, p, o);
  {R}    one row per s6-s9 rule: rid, shape, p, hside, fvpos, hA (the head
         constant), a1q/a1d and a2q/a2d (the variable-variable atoms, d = 0
         when the free variable is their subject), c1q2/c1cst/c1e and
         c2q2/c2cst/c2e (the instantiated atoms, e = 0 when their variable
         is the subject). Columns a shape does not use hold anything.
  {inj}  True for injective mappings (Ruleset.computeConfidence default).
Position tags are 0 = subject, 1 = object throughout (hside, fvpos, e).

Semantics (RuleCounting.scala:235-296, AtomCounting.scala:159-216): a
rule's head variables are its free variable alone, so body_size is the
number of distinct free-variable bindings B. Under ``inj`` a binding row
may be excluded (``keep`` false): s9's two instantiated atoms must bind
distinct triples; s7/s8 drop rows whose atoms bound before the free
variable completes contain the instantiated head (bestAtom order: the
smaller scoreAtom binds first, ties go to the atom added last) or reuse
a body triple. The raw set (every row) is what PCA branch B and QPCA read.

PCA branch law (withPcaConfidence): the head constant on the predicate's
higherCardinalitySide -> pca_body_size = body_size; else, when the best
body score (s7/s8) reaches the number of entities of p on that side, the
reference pre-binds the head variable and never sees the head instance
(branch B: raw bindings that are entities of p there); otherwise
(branch A) the kept bindings that are entities of p there.
"""

from __future__ import annotations

#: rule shapes whose head carries a constant
INST_SHAPES = ("s6", "s7", "s8", "s9")

_BINDINGS = """
WITH
E AS (
  SELECT p AS q2, o AS cst, 0 AS e, s AS x FROM {T}
  UNION ALL
  SELECT p AS q2, s AS cst, 1 AS e, o AS x FROM {T}),
BB AS (
  SELECT s AS x, o AS y, p AS q, 0 AS d FROM {T}
  UNION ALL
  SELECT o AS x, s AS y, p AS q, 1 AS d FROM {T}),
PS AS (
  SELECT p AS q, count(*) AS n FROM {T}
  WHERE NOT {inj} OR s <> o GROUP BY p),
CS AS (
  SELECT q2, cst, e, count(*) AS n FROM E
  WHERE x <> cst GROUP BY q2, cst, e),
RS AS (
  SELECT f.*, coalesce(p1.n, 0) AS sz1, coalesce(p2.n, 0) AS sz2,
         coalesce(cs.n, 0) AS csz
  FROM {R} f
  LEFT JOIN PS p1 ON p1.q = f.a1q
  LEFT JOIN PS p2 ON p2.q = f.a2q
  LEFT JOIN CS cs ON cs.q2 = f.c1q2 AND cs.cst = f.c1cst AND cs.e = f.c1e),
B AS (
  SELECT f.rid, e1.x AS v, true AS keep
  FROM {R} f
  JOIN E e1 ON e1.q2 = f.c1q2 AND e1.cst = f.c1cst AND e1.e = f.c1e
  WHERE f.shape = 's6'
  UNION ALL
  SELECT f.rid, e1.x AS v,
         NOT ({inj} AND f.c1q2 = f.c2q2 AND f.c1e <> f.c2e
              AND e1.x = f.c1cst AND e1.x = f.c2cst) AS keep
  FROM {R} f
  JOIN E e1 ON e1.q2 = f.c1q2 AND e1.cst = f.c1cst AND e1.e = f.c1e
  JOIN E e2 ON e2.q2 = f.c2q2 AND e2.cst = f.c2cst AND e2.e = f.c2e
           AND e2.x = e1.x
  WHERE f.shape = 's9'
  UNION ALL
  SELECT f.rid, b1.x AS v,
         NOT ({inj} AND b1.y = f.hA AND CASE
           WHEN f.sz1 < f.sz2 OR (f.sz1 = f.sz2 AND f.a1d = 1)
           THEN f.a1q = f.p AND f.a1d = f.fvpos
           ELSE f.a2q = f.p AND f.a2d = f.fvpos END) AS keep
  FROM RS f
  JOIN BB b1 ON b1.q = f.a1q AND b1.d = f.a1d
  JOIN BB b2 ON b2.q = f.a2q AND b2.d = f.a2d
            AND b2.x = b1.x AND b2.y = b1.y
  WHERE f.shape = 's7' AND (NOT {inj} OR b1.x <> b1.y)
  UNION ALL
  SELECT f.rid, b1.x AS v,
         NOT ({inj} AND (
           (b1.y = f.hA AND f.a1q = f.p AND f.a1d = f.fvpos)
           OR (f.csz <= f.sz1 AND f.c1q2 = f.p AND f.c1e <> f.fvpos
               AND b1.y = f.hA AND b1.x = f.c1cst)
           OR (f.a1q = f.c1q2 AND f.a1d <> f.c1e AND b1.x = f.c1cst)))
         AS keep
  FROM RS f
  JOIN BB b1 ON b1.q = f.a1q AND b1.d = f.a1d
  JOIN E e1 ON e1.q2 = f.c1q2 AND e1.cst = f.c1cst AND e1.e = f.c1e
           AND e1.x = b1.y
  WHERE f.shape = 's8' AND (NOT {inj} OR b1.x <> b1.y))"""

#: (rid, body_size, pca_body_size) for every s6-s9 rule with a kept
#: binding; rules without one are absent (null sizes after a left join)
COUNTS = _BINDINGS + """,
SE AS (SELECT DISTINCT q2 AS p, e AS pos, x FROM E),
NE AS (SELECT p, pos, count(*) AS n FROM SE GROUP BY p, pos),
G AS (SELECT rid, v, bool_or(keep) AS k FROM B GROUP BY rid, v),
M AS (
  SELECT rid, p, hside, fvpos,
         CASE shape WHEN 's7' THEN least(sz1, sz2)
                    WHEN 's8' THEN least(sz1, csz) END AS bscore
  FROM RS),
C AS (
  SELECT m.rid, m.p, m.hside, m.fvpos, m.bscore,
         count(*) FILTER (WHERE g.k) AS body,
         count(se.x) FILTER (WHERE g.k) AS pcares,
         count(se.x) AS pcaraw
  FROM G g
  JOIN M m ON m.rid = g.rid
  LEFT JOIN SE se ON se.p = m.p AND se.pos = m.hside AND se.x = g.v
  GROUP BY m.rid, m.p, m.hside, m.fvpos, m.bscore)
SELECT c.rid, c.body AS body_size,
       CASE WHEN c.hside <> c.fvpos THEN c.body
            WHEN c.bscore >= ne.n THEN c.pcaraw
            ELSE c.pcares END AS pca_body_size
FROM C c
JOIN NE ne ON ne.p = c.p AND ne.pos = c.hside
WHERE c.body > 0
"""

#: (rid, s, o): the head triples the raw bindings predict (QPCA's input)
RAW_PREDICTIONS = _BINDINGS + """
SELECT DISTINCT b.rid,
       CASE WHEN f.fvpos = 0 THEN b.v ELSE f.hA END AS s,
       CASE WHEN f.fvpos = 0 THEN f.hA ELSE b.v END AS o
FROM B b
JOIN {R} f ON f.rid = b.rid
"""
