"""The confidence laws of every rule shape as SQL text, run by two
executors:

  * below the driver-local gate, DuckDB over the integer-coded tables of
    mining/local_constants.py (``text.format(T=..., R=..., inj=...)``
    naming registered frames); binding sets never leave DuckDB;
  * above it, Spark SQL through mining/measures.spark_sql
    (``spark_sql(text, T=df, R=df, inj=bool)``; spark.sql names the frames
    by temporary views dropped after analysis).

The mining statements that produce the rules are mining/mine_sql.py,
run by the same two executors.

Inputs:
  {T}    the triples (s, p, o);
  {inj}  True for injective mappings (Ruleset.computeConfidence default).
  {R}    the rule table, one row per rule, of the text's shape family.

The var-only shapes l2/l3v2/l3v3 (VAR_COUNTS, VAR_PAIRS; RuleCounting.scala
:66-96 and :235-296): {R} holds rid, shape, p, q, d1, r, d2 in
mining/amie.py's key schema with 0/1 directions (d = 1 for 'i': the atom
binds (x, y) as (o, s)). An l2 row carries r = q and d2 = d1, so every key
is non-null and both dialects join on plain equality. Body pairs (P) are
the distinct (?a, ?b) bindings, found once per distinct (shape, q, d1, r,
d2) combo; under ``inj`` the variables bind pairwise-distinct values.
body_size counts the pairs; for l2 it is the size of its predicate (PS:
the facts, only the non-reflexive ones under ``inj``). pca_body_size
counts the pairs whose head entity on p's higherCardinalitySide (HS) is
an entity of p there. A size is a count of at least 1 or NULL (no pair,
no fact of the l2 predicate, or a head predicate without facts), never
0, so a division by it cannot raise under ANSI mode.

The constants shapes s4-s9 (COUNTS, RAW_PREDICTIONS):
  {R}    one row per s4-s9 rule: rid, shape, p, hside, fvpos, hA (the head
         constant), a1q/a1d and a2q/a2d (the variable-variable atoms, d = 0
         when the free variable, or ?a in a variable head, is their
         subject), c1u/c1q2/c1cst/c1e and c2u/c2q2/c2cst/c2e (the
         instantiated atoms, u = 0 when their variable is ?a, e = 0 when it
         is the subject). Columns a shape does not use hold anything.
Position tags are 0 = subject, 1 = object throughout (hside, fvpos, e).

Semantics (RuleCounting.scala:235-296, AtomCounting.scala:159-216):
body_size is the number of distinct bindings of the head variables. For
s4 {VV(a,b), CAtom(a|b)} and s6-s9 these are the rows (rid, v, w) of B: v
binds the free variable (?a in s4), w is the head's other term, the head
constant or ?b's binding. Under ``inj`` a row may be excluded (``keep``
false): s9's two instantiated atoms must bind distinct triples; s4, s7
and s8 drop rows whose atoms bound before the head variables complete
contain the instantiated head (bestAtom order: the smaller scoreAtom binds
first, ties go to the atom added last) or reuse a body triple. The raw set
(every row) is what PCA branch B and QPCA read.

s5 {CAtom(a), CAtom(b)} binds ?a and ?b independently, so its bindings
are the product of two entity sets A and B (X: one row per rule, side and
entity), never materialized for the sizes. Non-injective, the sizes are
products of per-side counts. Under ``inj`` a pair (a, b) counts iff a <> b,
neither body triple is the instantiated head (a p b) and the two body
triples differ: the excluded subsets of A x B are the diagonal (D), at most
two lines (b = A's constant when A's atom mirrors the head, a = B's
constant when B's does) and one point (both atoms binding one triple
cross-oriented), all counted from per-rule aggregates of X.

PCA (withPcaConfidence) keeps the bindings whose head entity on p's
higherCardinalitySide is an entity of p there. s4 and s5 restrict their
?a or ?b binding. s6-s9: the head constant on that side -> pca_body_size
= body_size; else, when the best body score (s7/s8) reaches the number of
entities of p on that side, the reference pre-binds the head variable and
never sees the head instance (branch B: raw bindings that are entities of
p there); otherwise (branch A) the kept bindings that are entities of p.

NULL versus zero, as a left join of these rows onto the rules gives it:
a rule without a kept binding has no row (NULL sizes); an s4 rule without
a kept binding inside the PCA restriction has a NULL pca_body_size; an s5
rule has NULL sizes when one side has no entity (non-injective) or both
have none (injective).
"""

from __future__ import annotations

#: rule shapes whose laws this text holds
SQL_SHAPES = ("s4", "s5", "s6", "s7", "s8", "s9")

#: the relations of the triples both families read: BB the
#: direction-tagged atoms, PS the predicate sizes (non-reflexive facts
#: under ``inj``), SE the distinct entities of each predicate side
_SE = """SE AS (
  SELECT p, 0 AS pos, s AS x FROM {T}
  UNION
  SELECT p, 1 AS pos, o AS x FROM {T})"""
_TRIPLES = """
WITH
BB AS (
  SELECT s AS x, o AS y, p AS q, 0 AS d FROM {T}
  UNION ALL
  SELECT o AS x, s AS y, p AS q, 1 AS d FROM {T}),
PS AS (
  SELECT p AS q, count(*) AS n FROM {T}
  WHERE NOT {inj} OR s <> o GROUP BY p),
""" + _SE

_BINDINGS = _TRIPLES + """,
E AS (
  SELECT p AS q2, o AS cst, 0 AS e, s AS x FROM {T}
  UNION ALL
  SELECT p AS q2, s AS cst, 1 AS e, o AS x FROM {T}),
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
  SELECT f.rid, b1.x AS v, b1.y AS w,
         NOT ({inj}
              AND CASE WHEN f.c1u = 0 THEN b1.y ELSE b1.x END = f.c1cst
              AND ((f.csz <= f.sz1 AND f.c1q2 = f.p AND f.c1e = f.c1u)
                   OR (f.a1q = f.c1q2 AND (f.c1u = 0) = (f.c1e = f.a1d))))
         AS keep
  FROM RS f
  JOIN BB b1 ON b1.q = f.a1q AND b1.d = f.a1d
  JOIN E e1 ON e1.q2 = f.c1q2 AND e1.cst = f.c1cst AND e1.e = f.c1e
           AND e1.x = CASE WHEN f.c1u = 0 THEN b1.x ELSE b1.y END
  WHERE f.shape = 's4' AND (NOT {inj} OR b1.x <> b1.y)
  UNION ALL
  SELECT f.rid, e1.x AS v, f.hA AS w, true AS keep
  FROM {R} f
  JOIN E e1 ON e1.q2 = f.c1q2 AND e1.cst = f.c1cst AND e1.e = f.c1e
  WHERE f.shape = 's6'
  UNION ALL
  SELECT f.rid, e1.x AS v, f.hA AS w,
         NOT ({inj} AND f.c1q2 = f.c2q2 AND f.c1e <> f.c2e
              AND e1.x = f.c1cst AND e1.x = f.c2cst) AS keep
  FROM {R} f
  JOIN E e1 ON e1.q2 = f.c1q2 AND e1.cst = f.c1cst AND e1.e = f.c1e
  JOIN E e2 ON e2.q2 = f.c2q2 AND e2.cst = f.c2cst AND e2.e = f.c2e
           AND e2.x = e1.x
  WHERE f.shape = 's9'
  UNION ALL
  SELECT f.rid, b1.x AS v, f.hA AS w,
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
  SELECT f.rid, b1.x AS v, f.hA AS w,
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
  WHERE f.shape = 's8' AND (NOT {inj} OR b1.x <> b1.y)),
S5 AS (
  SELECT rid, p, hside,
         CASE WHEN c1u = 0 THEN c1q2 ELSE c2q2 END AS aq,
         CASE WHEN c1u = 0 THEN c1cst ELSE c2cst END AS ac,
         CASE WHEN c1u = 0 THEN c1e ELSE c2e END AS ae,
         CASE WHEN c1u = 0 THEN c2q2 ELSE c1q2 END AS bq,
         CASE WHEN c1u = 0 THEN c2cst ELSE c1cst END AS bc,
         CASE WHEN c1u = 0 THEN c2e ELSE c1e END AS be
  FROM {R} WHERE shape = 's5'),
X AS (
  SELECT f.rid, f.p, f.hside, f.ac, f.bc, 0 AS side, e1.x
  FROM S5 f JOIN E e1 ON e1.q2 = f.aq AND e1.cst = f.ac AND e1.e = f.ae
  UNION ALL
  SELECT f.rid, f.p, f.hside, f.ac, f.bc, 1 AS side, e1.x
  FROM S5 f JOIN E e1 ON e1.q2 = f.bq AND e1.cst = f.bc AND e1.e = f.be)"""


def _s5_law(p: str) -> str:
    """An s5 size over L5's counts; ``p`` selects the counts inside the
    PCA restriction."""
    return f"""n.na{p} * n.nb{p} - CASE WHEN {{inj}} THEN n.nd{p}
           + n.ha * n.mab{p} * (n.na{p} - n.maa{p})
           + n.hb * n.mba{p} * (n.nb{p} - n.mbb{p})
           + (n.tt - n.ha * n.hb - n.ha * n.tt - n.hb * n.tt
              + n.ha * n.hb * n.tt) * n.mba{p} * n.mab{p} * n.ne
         ELSE 0 END"""


#: (rid, body_size, pca_body_size) for every s4-s9 rule with a binding
#: (module docstring); rules without one are absent (null sizes after a
#: left join)
COUNTS = _BINDINGS + f""",
NE AS (SELECT p, pos, count(*) AS n FROM SE GROUP BY p, pos),
G AS (SELECT rid, v, w, bool_or(keep) AS k FROM B GROUP BY rid, v, w),
M AS (
  SELECT rid, shape, p, hside, fvpos,
         CASE shape WHEN 's7' THEN least(sz1, sz2)
                    WHEN 's8' THEN least(sz1, csz) END AS bscore
  FROM RS),
C AS (
  SELECT m.rid, m.shape, m.p, m.hside, m.fvpos, m.bscore,
         count(*) FILTER (WHERE g.k) AS body,
         count(se.x) FILTER (WHERE g.k) AS pcares,
         count(se.x) AS pcaraw
  FROM G g
  JOIN M m ON m.rid = g.rid
  LEFT JOIN SE se ON se.p = m.p AND se.pos = m.hside
       AND se.x = CASE WHEN m.hside = m.fvpos THEN g.v ELSE g.w END
  GROUP BY m.rid, m.shape, m.p, m.hside, m.fvpos, m.bscore),
XP AS (
  SELECT g.rid, g.side, g.x, g.ac, g.bc,
         g.hside <> g.side OR se.x IS NOT NULL AS inp
  FROM X g
  LEFT JOIN SE se ON se.p = g.p AND se.pos = g.side AND se.x = g.x),
XN AS (
  SELECT rid,
         count(*) FILTER (WHERE side = 0) AS na,
         count(*) FILTER (WHERE side = 1) AS nb,
         count(*) FILTER (WHERE side = 0 AND inp) AS nap,
         count(*) FILTER (WHERE side = 1 AND inp) AS nbp,
         max(CASE WHEN side = 1 AND x = ac THEN 1 ELSE 0 END) AS mab,
         max(CASE WHEN side = 0 AND x = ac THEN 1 ELSE 0 END) AS maa,
         max(CASE WHEN side = 0 AND x = bc THEN 1 ELSE 0 END) AS mba,
         max(CASE WHEN side = 1 AND x = bc THEN 1 ELSE 0 END) AS mbb,
         max(CASE WHEN side = 1 AND inp AND x = ac THEN 1 ELSE 0 END) AS mabp,
         max(CASE WHEN side = 0 AND inp AND x = ac THEN 1 ELSE 0 END) AS maap,
         max(CASE WHEN side = 0 AND inp AND x = bc THEN 1 ELSE 0 END) AS mbap,
         max(CASE WHEN side = 1 AND inp AND x = bc THEN 1 ELSE 0 END) AS mbbp
  FROM XP GROUP BY rid),
XB AS (
  SELECT rid, x, bool_and(inp) AS allp FROM XP
  WHERE {{inj}} GROUP BY rid, x HAVING count(DISTINCT side) = 2),
XD AS (
  SELECT rid, count(*) AS nd, count(*) FILTER (WHERE allp) AS ndp
  FROM XB GROUP BY rid),
L5 AS (
  SELECT xn.*, coalesce(xd.nd, 0) AS nd, coalesce(xd.ndp, 0) AS ndp,
         CASE WHEN f.ae = 0 AND f.aq = f.p THEN 1 ELSE 0 END AS ha,
         CASE WHEN f.be = 1 AND f.bq = f.p THEN 1 ELSE 0 END AS hb,
         CASE WHEN f.aq = f.bq AND f.ae <> f.be THEN 1 ELSE 0 END AS tt,
         CASE WHEN f.ac <> f.bc THEN 1 ELSE 0 END AS ne
  FROM XN xn
  JOIN S5 f ON f.rid = xn.rid
  LEFT JOIN XD xd ON xd.rid = xn.rid
  WHERE {{inj}} OR (xn.na > 0 AND xn.nb > 0))
SELECT c.rid, c.body AS body_size,
       CASE WHEN c.shape = 's4' THEN nullif(c.pcares, 0)
            WHEN c.hside <> c.fvpos THEN c.body
            WHEN c.bscore >= ne.n THEN c.pcaraw
            ELSE c.pcares END AS pca_body_size
FROM C c
JOIN NE ne ON ne.p = c.p AND ne.pos = c.hside
WHERE c.body > 0
UNION ALL
SELECT n.rid, {_s5_law("")} AS body_size,
       {_s5_law("p")} AS pca_body_size
FROM L5 n
"""

#: (rid, s, o): the head triples the raw bindings predict (QPCA's input);
#: for s5 the product of its entity sets, with a <> b under ``inj``
RAW_PREDICTIONS = _BINDINGS + """
SELECT b.rid,
       CASE WHEN f.fvpos = 0 THEN b.v ELSE b.w END AS s,
       CASE WHEN f.fvpos = 0 THEN b.w ELSE b.v END AS o
FROM B b
JOIN {R} f ON f.rid = b.rid
UNION
SELECT a.rid, a.x AS s, b.x AS o
FROM X a
JOIN X b ON b.rid = a.rid AND b.side = 1
WHERE a.side = 0 AND (NOT {inj} OR a.x <> b.x)
"""

#: each predicate's higherCardinalitySide (TripleIndex.scala:155-169)
_HS = """HS AS (
  SELECT p, CASE WHEN count(*) FILTER (WHERE pos = 0)
                      >= count(*) FILTER (WHERE pos = 1)
                 THEN 0 ELSE 1 END AS hside
  FROM SE GROUP BY p)"""

#: (p, hside) for every predicate of {T} (it reads no other input)
HSIDE = "\nWITH\n" + _SE + ",\n" + _HS + """
SELECT p, hside FROM HS
"""

#: the var-only body pairs P(shape, q, d1, r, d2, a, b) (module docstring)
_PAIRS = _TRIPLES + """,
K AS (SELECT DISTINCT shape, q, d1, r, d2 FROM {R}),
P AS (
  SELECT k.shape, k.q, k.d1, k.r, k.d2, b1.x AS a, b1.y AS b
  FROM K k JOIN BB b1 ON b1.q = k.q AND b1.d = k.d1
  WHERE k.shape = 'l2' AND (NOT {inj} OR b1.x <> b1.y)
  UNION
  SELECT k.shape, k.q, k.d1, k.r, k.d2, b1.x AS a, b1.y AS b
  FROM K k
  JOIN BB b1 ON b1.q = k.q AND b1.d = k.d1
  JOIN BB b2 ON b2.q = k.r AND b2.d = k.d2
            AND b2.x = b1.x AND b2.y = b1.y
  WHERE k.shape = 'l3v2' AND (NOT {inj} OR b1.x <> b1.y)
  UNION
  SELECT k.shape, k.q, k.d1, k.r, k.d2, b1.x AS a, b2.x AS b
  FROM K k
  JOIN BB b1 ON b1.q = k.q AND b1.d = k.d1
  JOIN BB b2 ON b2.q = k.r AND b2.d = k.d2 AND b2.y = b1.y
  WHERE k.shape = 'l3v3' AND (NOT {inj}
        OR (b1.x <> b2.x AND b1.y <> b1.x AND b1.y <> b2.x)))"""

#: (shape, q, d1, r, d2, a, b): the distinct body pairs of the var-only
#: combos of {R} (prediction, QPCA and support recounts read them)
VAR_PAIRS = _PAIRS + """
SELECT shape, q, d1, r, d2, a, b FROM P
"""

#: (rid, body_size, pca_body_size) for every var-only rule of {R}; C
#: counts each combo's pairs once per head predicate, all of them (body)
#: and those inside the PCA restriction (pca)
VAR_COUNTS = _PAIRS + ",\n" + _HS + """,
KP AS (
  SELECT DISTINCT f.shape, f.p, f.q, f.d1, f.r, f.d2, h.hside
  FROM {R} f LEFT JOIN HS h ON h.p = f.p),
C AS (
  SELECT kp.shape, kp.p, kp.q, kp.d1, kp.r, kp.d2,
         count(*) AS body, count(se.x) AS pca
  FROM KP kp
  JOIN P pr ON pr.shape = kp.shape AND pr.q = kp.q AND pr.d1 = kp.d1
           AND pr.r = kp.r AND pr.d2 = kp.d2
  LEFT JOIN SE se ON se.p = kp.p AND se.pos = kp.hside
       AND se.x = CASE WHEN kp.hside = 0 THEN pr.a ELSE pr.b END
  GROUP BY kp.shape, kp.p, kp.q, kp.d1, kp.r, kp.d2)
SELECT f.rid,
       CASE WHEN f.shape = 'l2' THEN ps.n ELSE c.body END AS body_size,
       nullif(c.pca, 0) AS pca_body_size
FROM {R} f
LEFT JOIN PS ps ON ps.q = f.q
LEFT JOIN C c ON c.shape = f.shape AND c.p = f.p AND c.q = f.q
             AND c.d1 = f.d1 AND c.r = f.r AND c.d2 = f.d2
"""
