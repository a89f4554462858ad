"""The constants miner's staged algebra as SQL text, run by two executors:

  * below the driver-local gate, DuckDB over integer-coded terms
    (local_constants.mine_constants_local), each statement one
    ``CREATE TEMP TABLE``;
  * above it, ``spark.sql`` (constants.mine_constants, through
    measures.spark_sql), each statement a DataFrame the later ones read.

``plan`` picks the statements that run and the scalars they read; both
executors take its list as it is. Each statement reads the relations
named before it as ``{NAME}``, the inputs ``{T}`` (s, p, o, tid: the
distinct triples, tid an identity of the triple) and ``{CFP}`` (p, pos:
the ConstantsForPredicates overrides), and these scalars: ``{ndt}`` the
distinct-triple law, ``{inj}`` injective mappings, ``{nodup}`` no
duplicate predicates, ``{ms}`` minSupport, ``{mhc}`` minHC, ``{mhs}``
minHeadSize, ``{constants}`` the global ConstantsAtPosition policy. The
last statement, RULES, is the output: one row per rule (``_rules``); each
executor turns it into canonical (head, atoms) strings.

Reference semantics (cites):
  * instantiated heads (C p ?b) / (?a p C) keep headSize = |p| and are
    thresholded by their own triple count — HeadsFetcher.scala:24-92 (the
    head-candidate filter: rule support <= instantiated-head size, so a
    head failing the support/minHC law is pruned before the joins);
  * body atoms carry at most one constant — refinement instantiates only
    the dangling variable of the fresh atom (RuleRefinement.scala);
  * ConstantsAtPosition constrains WHERE constants may appear: Subject /
    Object / LowerCardinalitySide (per-atom-predicate side, TripleIndex
    .scala:155-159: n_subj >= n_obj -> Object) / anywhere
    (RuleConstraint.scala:28-104); ConstantsForPredicates overrides the
    position per predicate (RuleConstraint.scala:48-68), so 'nowhere'
    with overrides instantiates only the listed predicates;
  * closed rule = every VARIABLE appears >= 2x; atoms pairwise distinct and
    distinct from the head atom; rule identity = (head, SET of body atoms)
    (AmieSpec.scala:122 `body.toSet -> head`);
  * DISTINCT-TRIPLE support ({ndt}): a binding may not map two atoms of
    the rule (head included) to the same KG triple (RuleFilter.scala
    NoRepeatedGroups deprecation note, VariableMap.scala:5-12). It holds
    in the published spec and under InjectiveMapping, which also binds
    variables to pairwise-distinct values (AtomCounting.scala:360-387).

Execution is the reference's level-synchronous BFS as staged
aggregations: every length-3 shape is computed FROM the length-2
survivors of its prefix rule (a join on the survivor keys). This is
exact: support is monotone non-increasing under body extension and the
emission law (support >= minSupport, support / headSize >= minHC) depends
only on the head, so a surviving length-3 rule implies a surviving
prefix (Amie.scala:184-231). The survivor joins keep the instantiated
shapes from exploding on hub entities.

Closed-rule shapes over head types H0=(?a p ?b), HS=(C p ?b), HO=(?a p C)
(maxRuleLength 3):

  H0: L2 VV | L3V2 {VV,VV} | L3V3 path | S4 {VV(a,b), CAtom(a|b)}
      | S5 {CAtom(a), CAtom(b)}
  HS/HO (free var f): S6 {CAtom(f)} | S7 {VV(f,c), VV(f,c)}
      | S8 {VV(f,c), CAtom(c)} | S9 {CAtom(f), CAtom(f)}

Quasi-binding (the executed reference's generation-time filter: a fresh
constant-bearing atom must admit >= 2 distinct bindings of its variable
over the parent body + itself, head excluded) collapses to one law per
shape, because a rule survives iff SOME generation order admits it and
the prefix part of every order is automatic:

  s4 {VV, CA}:   joint(CA | VV on the shared head var) >= 2 (the VV-first
                 order is the only one: FreshAtomGenerator.scala:96-104)
  s5 {CAa, CAb}: alone(CAa) and alone(CAb) (no shared variable, the joint
                 count factorizes); under injective mappings the KILL set
  s6 {CA}:       alone(CA) >= 2
  s8 {VV, CA}:   joint(CA | VV on the shared ?c) >= 2
  s9 {CA1, CA2}: joint(CA1 ⋈ CA2 on the shared free var) >= 2

where alone(CA) = #distinct KG bindings of CA's variable and joint = the
same count restricted by the other body atom, with the injective
VariableMap the QuasiBindingFilter uses (RuleFilter.scala:334).

Orders: the l3v2/s7 pair and the s9 pair take their first atom by the
terms' order ((q, d) and (q2, cst, e) tuples), so an unordered pair is
counted once; the local codes are ranks, so they order like the strings
Spark compares. Canonical atom order is each executor's emission.
"""

from __future__ import annotations

from rdfrules_spark.mining.inst_sql import HSIDE

_LAW = ("g.support >= {ms} AND "
        "g.support / hd.head_size >= CAST({mhc} AS DOUBLE)")


def _passing(agg: str, keys: str | None = None) -> str:
    """The groups of ``agg`` (p, keys..., support) that pass the one
    support/minHC law, with their head_size; only the ``keys`` columns
    when given (a survivor table)."""
    cols = keys or "g.*, hd.head_size"
    return (f"SELECT /*+ BROADCAST(hd) */ {cols} FROM ({agg}) g "
            "JOIN {HEADS} hd ON hd.p = g.p WHERE " + _LAW)


def _on(a: str, b: str, cols: str) -> str:
    return " AND ".join(f"{b}.{c} = {a}.{c}" for c in cols.split())


def _semi(rel: str, keys: str, cols: str, hint: str = "") -> str:
    """The rows of ``rel`` whose ``cols`` are a row of ``keys`` (whose
    rows are unique on them)."""
    return (f"SELECT {hint}r.* FROM {{{rel}}} r "
            f"JOIN {{{keys}}} k ON {_on('r', 'k', cols)}")


def _joint(v: str) -> str:
    """Quasi-binding: the (VV, CA) atom pairs whose shared variable, at
    the VV atom's ``v`` position, takes >= 2 values over the body alone."""
    return f"""
SELECT b.q, b.d, ca.q2, ca.cst, ca.e
FROM {{B}} b JOIN {{CA}} ca ON ca.x = b.{v}
WHERE NOT {{inj}} OR (b.x <> b.y AND b.tid <> ca.ctid)
GROUP BY ALL HAVING count(DISTINCT b.{v}) >= 2"""


def _s4(col: str) -> str:
    """S4 with the instantiated atom on the head variable ``col``."""
    return _passing(f"""
SELECT m.p, m.q, m.d, ca.q2, ca.cst, ca.e, count(DISTINCT (m.a, m.bb)) AS support
FROM {{MS}} m JOIN {{CA}} ca ON ca.x = m.{col}
WHERE NOT {{ndt}} OR (ca.ctid <> m.htid AND ca.ctid <> m.tid)
GROUP BY ALL""")


#: the lcs predicates' higherCardinalitySide (p, hside: 0 subject), the
#: other side being where a constant may stand; only computed when some
#: predicate follows lcs ({lcs})
_LCS = HSIDE + "WHERE {lcs}"


def _allowed(side: str) -> str:
    """May a constant stand at ``side`` ('subject' / 'object') of a
    predicate, given its CFP row c and LCS row l (both left-joined)?"""
    lcs = f"l.hside = {'0' if side == 'object' else '1'}"
    return (f"CASE WHEN coalesce(c.pos, {{constants}}) = 'lcs' THEN {lcs} "
            f"ELSE coalesce(c.pos, {{constants}}) IN ('{side}', 'both', "
            "'anywhere') END")


def _policy(select: str, rel: str, side: str) -> str:
    """``select`` over the rows of ``rel`` (alias t, predicate t.p) whose
    predicate admits a constant at ``side``."""
    return (f"SELECT /*+ BROADCAST(c, l) */ {select} FROM {{{rel}}} t "
            "LEFT JOIN {CFP} c ON c.p = t.p LEFT JOIN {LCS} l ON l.p = t.p "
            f"WHERE {_allowed(side)}")


#: the instantiated atoms CA(x, q2, cst, e, ctid) the policy allows: x
#: binds the variable, e its position (0 subject: (?x q2 C))
_CA = (_policy("t.s AS x, t.p AS q2, t.o AS cst, 0 AS e, t.tid AS ctid",
               "T", "object")
       + "\nUNION ALL\n"
       + _policy("t.o AS x, t.p AS q2, t.s AS cst, 1 AS e, t.tid AS ctid",
                 "T", "subject"))

#: the constant-position policy: what without_quasi_binding reads
POLICY = [("LCS", _LCS), ("CA", _CA)]

#: (name, tags, text): a statement runs when ``plan``'s tags hold all of
#: its tags; a later statement of the same name replaces the relation
_STATEMENTS = [
    # head predicates with their size (non-reflexive facts under inj,
    # TripleHashIndex.scala:61-66) and the head triples
    ("HEADS", (), """
SELECT p, count(*) AS head_size FROM {T}
WHERE NOT {inj} OR s <> o
GROUP BY p HAVING count(*) >= {mhs}"""),
    ("H0", (), """
SELECT /*+ BROADCAST(hd) */ t.p, t.s AS a, t.o AS bb, t.tid AS htid
FROM {T} t JOIN {HEADS} hd ON hd.p = t.p
WHERE NOT {inj} OR t.s <> t.o"""),
    # direction-tagged body atoms: d = 0 binds (x, y) as (s, o)
    ("B", (), """
SELECT s AS x, o AS y, p AS q, 0 AS d, tid FROM {T}
UNION ALL
SELECT o AS x, s AS y, p AS q, 1 AS d, tid FROM {T}"""),
    # L2 VV(a,b): the body atom differs from the head atom
    ("M", (), """
SELECT h.p, h.a, h.bb, h.htid, b.q, b.d, b.tid
FROM {H0} h JOIN {B} b ON b.x = h.a AND b.y = h.bb
WHERE (b.q <> h.p OR b.d <> 0) AND (NOT {ndt} OR b.tid <> h.htid)"""),
    ("L2", (), _passing(
        "SELECT p, q, d, count(*) AS support FROM {M} GROUP BY ALL")),
    # the L2 survivors gate every H0 length-3 shape built on a VV atom
    ("MS", ("l3",), _semi("M", "L2", "p q d", "/*+ BROADCAST(k) */ ")),
    ("L3V2", ("l3",), _passing("""
SELECT a1.p, a1.q, a1.d, a2.q AS r, a2.d AS d2, count(*) AS support
FROM {MS} a1 JOIN {MS} a2 ON a2.p = a1.p AND a2.a = a1.a AND a2.bb = a1.bb
WHERE (a1.q < a2.q OR (a1.q = a2.q AND a1.d < a2.d))
  AND (NOT {ndt} OR a1.tid <> a2.tid)
GROUP BY ALL""")),
    # L3V3 VV(a,c) + VV(b,c), gated by the dangling prefix (a p b) <- (a q c)
    ("DANG", ("l3",), """
SELECT h.p, h.a, h.bb, h.htid, b.y AS c, b.q, b.d AS d1, b.tid AS tid1
FROM {H0} h JOIN {B} b ON b.x = h.a
WHERE NOT {ndt} OR b.tid <> h.htid"""),
    ("DANG_K", ("l3",), _passing(
        "SELECT p, q, d1, count(DISTINCT (a, bb)) AS support FROM {DANG} "
        "GROUP BY ALL", "g.p, g.q, g.d1")),
    ("L3V3", ("l3",), _passing("""
SELECT /*+ BROADCAST(k) */ j.p, j.q, j.d1, b.q AS r, b.d AS d2,
       count(DISTINCT (j.a, j.bb)) AS support
FROM {DANG} j
JOIN {DANG_K} k ON k.p = j.p AND k.q = j.q AND k.d1 = j.d1
JOIN {B} b ON b.x = j.bb AND b.y = j.c
WHERE (NOT {ndt} OR (b.tid <> j.htid AND b.tid <> j.tid1))
  AND (NOT {inj} OR (j.c <> j.a AND j.c <> j.bb))
GROUP BY ALL""")),
    *[(name, ("const",), text) for name, text in POLICY],
    # quasi-binding: alone(CA) >= 2 (one CA row per triple, so the group
    # size is the number of distinct x); without it {CA_ALONE} reads CA
    ("CA_ALONE", ("const", "qb"), """
SELECT ca.* FROM {CA} ca
JOIN (SELECT q2, cst, e FROM {CA} GROUP BY q2, cst, e
      HAVING count(*) >= 2) k
  ON k.q2 = ca.q2 AND k.cst = ca.cst AND k.e = ca.e"""),
    ("JX", ("const", "l3", "qb"), _joint("x")),
    ("JY", ("const", "l3", "qb"), _joint("y")),
    # S4 {VV(a,b), CAtom(a|b)}, gated by the L2 survivors
    ("S4A", ("const", "l3"), _s4("a")),
    ("S4A", ("const", "l3", "qb"), _semi("S4A", "JX", "q d q2 cst e")),
    ("S4B", ("const", "l3"), _s4("bb")),
    ("S4B", ("const", "l3", "qb"), _semi("S4B", "JY", "q d q2 cst e")),
    # S5 {CAtom(a), CAtom(b)}, gated by (a p b) <- CAtom(a)
    ("IA", ("const", "l3"), """
SELECT h.p, h.a, h.bb, h.htid, c.q2 AS qa, c.cst AS csta, c.e AS ea,
       c.ctid AS ctida
FROM {H0} h JOIN {CA_ALONE} c ON c.x = h.a
WHERE NOT {ndt} OR c.ctid <> h.htid"""),
    ("IA_K", ("const", "l3"), _passing(
        "SELECT p, qa, csta, ea, count(DISTINCT (a, bb)) AS support FROM {IA} "
        "GROUP BY ALL", "g.p, g.qa, g.csta, g.ea")),
    ("S5", ("const", "l3"), _passing("""
SELECT i.p, i.qa, i.csta, i.ea, c.q2, c.cst, c.e,
       count(DISTINCT (i.a, i.bb)) AS support
FROM {IA} i
JOIN {IA_K} k ON k.p = i.p AND k.qa = i.qa AND k.csta = i.csta
             AND k.ea = i.ea
JOIN {CA_ALONE} c ON c.x = i.bb
WHERE (NOT {ndt} OR (c.ctid <> i.htid AND c.ctid <> i.ctida))
  AND (NOT {inj} OR i.a <> i.bb)
GROUP BY ALL""")),
    # injective quasi-binding for {CAa, CAb}: the joint count falls short
    # of alone() only when both atoms' entity sets are exactly their two
    # constants, the pair cross-oriented on one predicate (then both
    # orders bottom out at joint 1) — a closed kill set of atom pairs
    ("K2", ("const", "l3", "qb"), """
SELECT q2, cst, e, min(x) AS xlo, max(x) AS xhi FROM {CA}
WHERE {inj} GROUP BY q2, cst, e HAVING count(*) = 2"""),
    ("KILL", ("const", "l3", "qb"), """
SELECT k1.q2 AS qa, k1.cst AS csta, k1.e AS ea, k2.q2, k2.cst, k2.e
FROM {K2} k1 JOIN {K2} k2 ON k2.q2 = k1.q2 AND k2.e <> k1.e
WHERE k1.cst <> k2.cst AND k1.xlo = least(k1.cst, k2.cst)
  AND k1.xhi = greatest(k1.cst, k2.cst)
  AND k2.xlo = k1.xlo AND k2.xhi = k1.xhi"""),
    ("S5", ("const", "l3", "qb"), """
SELECT r.* FROM {S5} r
LEFT JOIN {KILL} k ON """ + _on("r", "k", "qa csta ea q2 cst e") + """
WHERE k.qa IS NULL"""),
    # instantiated heads IH(p, hs, ha, f, htid): the head constant ha at
    # position hs (0 subject: (C p ?b)), f the free variable's binding;
    # every S6-S9 support counts distinct f of one head (p, hs, ha), so a
    # head whose triple count fails the law has no rule (IH_K)
    ("IH0", ("const",), _policy("t.p, 0 AS hs, t.a AS ha, t.bb AS f, t.htid",
                                "H0", "subject")
     + "\nUNION ALL\n"
     + _policy("t.p, 1 AS hs, t.bb AS ha, t.a AS f, t.htid", "H0", "object")),
    ("IH_K", ("const",), _passing(
        "SELECT p, hs, ha, count(*) AS support FROM {IH0} GROUP BY ALL",
        "g.p, g.hs, g.ha")),
    ("IH", ("const",), _semi("IH0", "IH_K", "p hs ha")),
    # S6 {CAtom(f)}, not the head atom; one row per (head triple, atom)
    ("IHCA", ("const",), """
SELECT ih.p, ih.hs, ih.ha, ih.f, ih.htid, c.q2, c.cst, c.e, c.ctid
FROM {IH} ih JOIN {CA_ALONE} c ON c.x = ih.f
WHERE NOT (c.e <> ih.hs AND c.q2 = ih.p AND c.cst = ih.ha)
  AND (NOT {ndt} OR c.ctid <> ih.htid)"""),
    ("S6", ("const",), _passing(
        "SELECT p, hs, ha, q2, cst, e, count(*) AS support FROM {IHCA} "
        "GROUP BY ALL")),
    # the dangling prefix (head) <- VV(f, c) gates S7 and S8
    ("IHB", ("const", "l3"), """
SELECT ih.p, ih.hs, ih.ha, ih.f, ih.htid, b.y AS c, b.q, b.d, b.tid
FROM {IH} ih JOIN {B} b ON b.x = ih.f
WHERE (NOT {ndt} OR b.tid <> ih.htid) AND (NOT {inj} OR b.y <> ih.f)"""),
    ("IHB_K", ("const", "l3"), _passing(
        "SELECT p, hs, ha, q, d, count(DISTINCT f) AS support FROM {IHB} "
        "GROUP BY ALL", "g.p, g.hs, g.ha, g.q, g.d")),
    ("IHB_S", ("const", "l3"), _semi("IHB", "IHB_K", "p hs ha q d")),
    # S7 {VV(f,c), VV(f,c)}
    ("S7", ("const", "l3"), _passing("""
SELECT a1.p, a1.hs, a1.ha, a1.q, a1.d, a2.q AS r, a2.d AS d2,
       count(DISTINCT a1.f) AS support
FROM {IHB_S} a1
JOIN {IHB} a2 ON """ + _on("a1", "a2", "p hs ha f c") + """
WHERE (a1.q < a2.q OR (a1.q = a2.q AND a1.d < a2.d))
  AND (NOT {ndt} OR a1.tid <> a2.tid)
GROUP BY ALL""")),
    # S8 {VV(f,c), CAtom(c)}
    ("S8", ("const", "l3"), _passing("""
SELECT i.p, i.hs, i.ha, i.q, i.d, c.q2, c.cst, c.e,
       count(DISTINCT i.f) AS support
FROM {IHB_S} i JOIN {CA} c ON c.x = i.c
WHERE NOT {ndt} OR (c.ctid <> i.htid AND c.ctid <> i.tid)
GROUP BY ALL""")),
    ("S8", ("const", "l3", "qb"), _semi("S8", "JY", "q d q2 cst e")),
    # S9 {CAtom(f), CAtom(f)}, gated by the S6 survivors on its first atom
    ("S9", ("const", "l3"), _passing("""
SELECT a1.p, a1.hs, a1.ha, a1.q2, a1.cst, a1.e,
       a2.q2 AS q2b, a2.cst AS cstb, a2.e AS eb, count(*) AS support
FROM {IHCA} a1
JOIN {S6} k ON """ + _on("a1", "k", "p hs ha q2 cst e") + """
JOIN {IHCA} a2 ON """ + _on("a1", "a2", "p hs ha f") + """
WHERE (a1.q2, a1.cst, a1.e) < (a2.q2, a2.cst, a2.e)
  AND (NOT {ndt} OR a1.ctid <> a2.ctid)
GROUP BY ALL""")),
    # quasi-binding: joint(CA1 ⋈ CA2 on the shared var) >= 2 over the KG
    ("S9J", ("const", "l3", "qb"), """
SELECT k1.q2, k1.cst, k1.e, k2.q2 AS q2b, k2.cst AS cstb, k2.e AS eb
FROM {CA} k1 JOIN {CA} k2 ON k2.x = k1.x
WHERE (k1.q2, k1.cst, k1.e) < (k2.q2, k2.cst, k2.e)
GROUP BY ALL HAVING count(*) >= 2"""),
    ("S9", ("const", "l3", "qb"), _semi("S9", "S9J", "q2 cst e q2b cstb eb")),
]

#: RULES columns of each shape statement: shape, hs (-1: the variable
#: head (?a p ?b)), ha (the head constant; any term in a variable head),
#: then two atoms (u, w, q, d, c): u|q|w when d = 0, w|q|u when d = 1,
#: with w = C=<c> when w is NULL (an instantiated atom); no second atom
#: when its u is NULL
_FV = "CASE WHEN hs = 0 THEN '?b' ELSE '?a' END"
_EMIT = {
    "L2": ("l2", "-1", "p", ("'?a'", "'?b'", "q", "d", "q"), None),
    "L3V2": ("l3v2", "-1", "p", ("'?a'", "'?b'", "q", "d", "q"),
             ("'?a'", "'?b'", "r", "d2", "r")),
    "L3V3": ("l3v3", "-1", "p", ("'?a'", "'?c'", "q", "d1", "q"),
             ("'?b'", "'?c'", "r", "d2", "r")),
    "S4A": ("s4", "-1", "p", ("'?a'", "'?b'", "q", "d", "q"),
            ("'?a'", "NULL", "q2", "e", "cst")),
    "S4B": ("s4", "-1", "p", ("'?a'", "'?b'", "q", "d", "q"),
            ("'?b'", "NULL", "q2", "e", "cst")),
    "S5": ("s5", "-1", "p", ("'?a'", "NULL", "qa", "ea", "csta"),
           ("'?b'", "NULL", "q2", "e", "cst")),
    "S6": ("s6", "hs", "ha", (_FV, "NULL", "q2", "e", "cst"), None),
    "S7": ("s7", "hs", "ha", (_FV, "'?c'", "q", "d", "q"),
           (_FV, "'?c'", "r", "d2", "r")),
    "S8": ("s8", "hs", "ha", (_FV, "'?c'", "q", "d", "q"),
           ("'?c'", "NULL", "q2", "e", "cst")),
    "S9": ("s9", "hs", "ha", (_FV, "NULL", "q2", "e", "cst"),
           (_FV, "NULL", "q2b", "eb", "cstb")),
}
_ATOM = ("u", "w", "q", "d", "c")


def _rules(ran: list[str]) -> str:
    """RULES: the rows of every shape statement that ran, without the
    rules holding a predicate twice under {nodup} (head included). The
    gates above read the shapes before this filter."""
    parts = []
    for name in ran:
        shape, hs, ha, a1, a2 = _EMIT[name]
        atoms = []
        for i, atom in ((1, a1), (2, a2)):
            if atom is None:  # the first atom's terms fill the columns
                atom = ("NULL", "NULL", *a1[2:])
            atoms += [f"{'CAST(NULL AS STRING)' if v == 'NULL' else v} "
                      f"AS {k}{i}" for k, v in zip(_ATOM, atom)]
        parts.append(
            f"SELECT '{shape}' AS shape, p, {hs} AS hs, {ha} AS ha, "
            + ", ".join(atoms) + f", support, head_size FROM {{{name}}}")
    return ("SELECT * FROM (\n" + "\nUNION ALL\n".join(parts) + "\n) r\n"
            "WHERE NOT {nodup} OR (q1 <> p AND (u2 IS NULL "
            "OR (q2 <> p AND q2 <> q1)))")


def plan(params, constants: str, constants_for_predicates: dict | None,
         quasi_binding: bool) -> tuple[list[tuple[str, str]], dict]:
    """The (name, text) statements that run for these settings, in order,
    RULES last, and the scalars they read."""
    tags = {
        "l3" if params.max_rule_length >= 3 else "l2",
        "const" if constants != "nowhere" or constants_for_predicates
        else "var",
        "qb" if quasi_binding else "nqb",
    }
    stmts = [(name, text if quasi_binding
              else text.replace("{CA_ALONE}", "{CA}"))
             for name, need, text in _STATEMENTS if tags.issuperset(need)]
    ran = list(dict.fromkeys(n for n, _ in stmts if n in _EMIT))
    stmts.append(("RULES", _rules(ran)))
    return stmts, {
        "ndt": not quasi_binding or params.injective,
        "inj": params.injective,
        "nodup": not params.with_duplicate_predicates,
        "ms": params.min_support,
        "mhc": float(params.min_head_coverage),
        "mhs": params.min_head_size,
        "constants": constants,
        "lcs": "lcs" in (constants, *(constants_for_predicates or {}).values()),
    }
