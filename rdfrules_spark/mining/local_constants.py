"""Driver-local (DuckDB + numpy) fast path for mining and confidences,
both tiers.

At driver-sized inputs the staged distributed miners in
mining/constants.py + mining/measures_constants.py pay ~60 Spark stages of
fixed scheduling / shuffle-exchange latency on data that fits in driver
memory — measured 99.7 s for the task13 pipeline (19.7k triples,
951,333 rules) where the work itself is seconds of vectorized joins; the
var-only amie.mine + measures.confidences pair pays ~40 stages.
This module is the same adaptive-gate pattern as
canonicalize.connected_components, with one gate for both tiers:
``collect_local`` returns a DataFrame as pandas when it has at most
``bound`` rows, else None. The bounded collect is the probe, and it is
one task whatever the number of input partitions. ``mine_constants`` /
``confidences_constants`` and ``amie.mine`` / ``measures.confidences``
give it the same two bounds: ``LOCAL_TRIPLES_MAX`` input triples (their
``local_threshold`` parameter; 0 forces the distributed path) and, for
confidences, ``LOCAL_RULES_MAX`` rules. All four take their triples
through ``collect_spo``, which holds the deduplicated (s, p, o) copy of
a cached input, or the largest bound it was seen to exceed, for as long
as Spark keeps that cache, so mining and then scoring one cached triple
set crosses the Arrow boundary once. ``amie.mine`` runs
``mine_constants_local`` without constants, in amie's row schema
(``var_keys``); ``measures.confidences`` sends its rules to
``confidences_local``, which codes their (p, q, d1, r, d2) keys into the
var rule table of mining/inst_sql.py, as ``confidences_constants_local``
does for canonical var-only rules (``_var_combos``). Within the bounds
the miner runs the same SQL statements as the distributed plan. Above
either bound the distributed path runs — the 100 TB posture always
takes the distributed loop.

Engine choice, measured: a pure pandas-merge transliteration of the
algebra ran 245 s on the task13 input (single-threaded block copies at
the 45-90M-row join intermediates); DuckDB's parallel hash joins and
aggregates run it in seconds. DuckDB here is driver-local compute like
the numpy CC gate — the correctness oracle for the registry remains the
independent DuckDB SQL written per query, and the hard parity anchors
are the executed-reference dumps, not any SQL engine.

One SQL text, two executors: neither the miner nor a confidence law has
a twin here. The miner's staged algebra (survivor gating, constant
positions, distinct-triple / injective and quasi-binding laws) is
mining/mine_sql.py; the body pairs and sizes of the var-only shapes
(VAR_COUNTS) and the binding sets, injective exclusions, s5's factorized
product law and PCA laws of the constants shapes s4-s9 (COUNTS) are
mining/inst_sql.py. DuckDB runs both texts below the gate over the
integer-coded triples (``mine_constants_local``, ``_sql_local``) and
Spark SQL runs them above it (mining/constants.mine_constants,
measures.confidences, measures_constants.confidences_constants /
qpca_constants). What stays here is the coding and the canonical-string
emission (numpy over codes).

Parity is pinned three ways: the golden / brute-oracle (tests/oracles) /
executed-reference suites (tests/test_constants_mining.py,
test_refexec_parity.py, test_refexec_confidences.py,
test_task13_parity.py) exercise THIS path at their small inputs, and
some of them also the distributed one; tests/test_local_constants.py
asserts local == distributed row-for-row at the gate boundary, every
constants shape included; and the full task13 pipeline reproduces the
executed reference's 951,333 rules.

Implementation notes:
  * all terms (s/p/o/constants) share one integer code space; in the
    miner the codes of the triple terms are their ranks, so the
    order-dependent laws (q < r tie-breaks) compare codes as Spark
    compares the strings;
  * triple identity = row index over the distinct triple set (the
    distributed path uses xxhash64 for shuffle-width reasons; only
    equality is ever tested, so any injective id is equivalent);
  * a missing or zero size gives a NULL confidence on both paths
    (distributed confidences_constants divides with try_divide, since
    ANSI division by zero raises; a var-only size is a count of at least
    1 or NULL, never zero).
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from rdfrules_spark.mining import mine_sql
from rdfrules_spark.mining.inst_sql import (
    COUNTS,
    HSIDE,
    SQL_SHAPES,
    VAR_COUNTS,
)

#: input triples at or below which mining and confidences run on the driver.
#: The bound is set by driver memory, not time: on bench.py's synth_kg
#: (4 vCPU, var-only mine + confidences(min_confidence=0.1)) the local
#: path was faster at every size measured (49k: 8.9 s vs 16.3 s staged;
#: 196k: 5.3 s vs 18.2 s; 391k: 10.5 s vs 26.1 s), while its Python
#: peak RSS grew with the input (1.9 GB at 196k, 3.8 GB at 391k, over
#: 5 GB at 979k) against about 0.14 GB on the staged path, whose JVM
#: peaked at 2.9-3.4 GB. At 200k the local path's Python and JVM peaks
#: together stay at or below the staged path's. Above the bound a probe
#: costs 0.8-0.9 s (245k and 979k cached triples): once per cached input
#: and bound (``collect_spo``), on every gated call for an uncached one.
LOCAL_TRIPLES_MAX = 200_000
#: rules at or below which confidences_constants collects the ruleset to
#: the driver. The largest ruleset any caller mines locally today is
#: task13 at rule length 3: 1,056,065 rules from the committed export of
#: its 19,739 triples, before the confidence filter leaves 950,872 (the
#: reference reports 951,333). 2M keeps it local with ~2x headroom. A
#: larger ruleset, such as one mined distributed over a small triple set,
#: takes the distributed confidence path instead of an unbounded collect.
LOCAL_RULES_MAX = 2_000_000
#: rule shapes without constants (mining/amie.py's key schema)
VAR_SHAPES = ("l2", "l3v2", "l3v3")
#: direction code -> amie.py's d1/d2 ('f': the atom binds (x, y) as (s, o))
_DIRS = np.array(["f", "i"], dtype=object)


def collect_local(df: DataFrame, bound: int) -> pd.DataFrame | None:
    """``df`` as pandas when it has at most ``bound`` rows, else None
    (always None for ``bound`` <= 0, without running a job).

    The bounded collect is the gate probe. ``coalesce(1)`` makes the
    ``limit`` one task that stops reading after ``bound + 1`` rows, where
    a bare ``limit(n).toPandas()`` runs a LocalLimit task on every input
    partition feeding an exchange. The price: a shuffle-free plan
    upstream of ``df`` runs in that one task. Arrow (``toPandas``) rather
    than ``collect()``: on a 4-vCPU VM a 951k-rule collect took ~2.5 s
    this way and ~9 s unpickling Rows."""
    if bound <= 0:
        return None
    pdf = df.coalesce(1).limit(bound + 1).toPandas()
    return pdf if len(pdf) <= bound else None


class _Held:
    """What the gate learnt of one cached triple set: its row count and
    deduplicated (s, p, o) copy once collected, else the largest bound
    it was seen to exceed. ``lock`` makes concurrent callers of the same
    input wait for one collect."""

    def __init__(self):
        self.lock = threading.Lock()
        self.n = None
        self.pdf = None
        self.over = 0


#: (application id, cached RDD id, input columns) -> _Held; process-wide,
#: like the Spark cache whose entries it follows
_HELD: dict[tuple, _Held] = {}
_HELD_LOCK = threading.Lock()


def _cache_key(df: DataFrame) -> tuple | None:
    """``df``'s entry in Spark's cache as a ``_HELD`` key, or None when
    its plan is not cached (a filtered view of a cached input is not).
    The entry's RDD id is the same for every DataFrame whose plan reads
    that cache, and new for each re-cache."""
    spark = df.sparkSession
    hit = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    if hit.isEmpty():
        return None
    rdd = hit.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers()
    return (spark.sparkContext.applicationId, rdd.id(), tuple(df.columns))


def _evict(sc) -> None:
    """Drop the ``_HELD`` entries whose RDD Spark no longer persists
    (unpersisted, or of a stopped application); under ``_HELD_LOCK``."""
    if not _HELD:
        return
    app, persisted = sc.applicationId, sc._jsc.getPersistentRDDs()
    for key in [k for k in _HELD
                if k[0] != app or not persisted.containsKey(k[1])]:
        del _HELD[key]


def collect_spo(triples: DataFrame, bound: int) -> pd.DataFrame | None:
    """The triples gate of both tiers: ``triples``' distinct (s, p, o) as
    pandas when ``triples`` has at most ``bound`` rows, else None (always
    None for ``bound`` <= 0, without running a job). Callers must not
    modify the frame: it may be shared.

    An uncached ``triples`` is probed by ``collect_local`` on every call.
    A cached one is probed once per cache entry, keyed on Spark's cache
    (``_cache_key``): the copy is kept, and served to every later call
    whose bound it fits, until the cache's RDD is no longer persisted;
    the next gated call, on any input, then drops it. A probe that finds
    more than ``bound`` rows is kept too, so a later call at that or a
    smaller bound returns None without a job; a larger bound probes
    again."""
    if bound <= 0:
        return None
    spo = triples.select("s", "p", "o")
    key = _cache_key(triples)
    with _HELD_LOCK:
        _evict(triples.sparkSession.sparkContext)
        held = None if key is None else _HELD.setdefault(key, _Held())
    if held is None:
        pdf = collect_local(spo, bound)
        return None if pdf is None else pdf.drop_duplicates()
    with held.lock:
        if held.pdf is None and bound > held.over:
            pdf = collect_local(spo, bound)
            if pdf is None:
                held.over = bound
            else:
                held.n, held.pdf = len(pdf), pdf.drop_duplicates()
        return held.pdf if held.pdf is not None and held.n <= bound else None


def collect_triples(triples: DataFrame, bound: int) -> pd.DataFrame | None:
    """The var-only gate: ``collect_spo``, terms in their own type, or
    None when s, p and o differ in type (the local codes would then not
    order like the staged columns)."""
    if len({t for _, t in triples.select("s", "p", "o").dtypes}) != 1:
        return None
    return collect_spo(triples, bound)


# --------------------------------------------------------------------------
# encoding helpers
# --------------------------------------------------------------------------


class _Enc:
    """Shared integer code space over the triple terms (+ any extra terms
    mapped later, e.g. rule constants absent from the KG). With ``sort``
    the codes of the triple terms are their ranks, so they order like the
    terms (the miner's order-dependent laws need that; the confidence
    laws only test equality)."""

    def __init__(self, tpdf: pd.DataFrame, sort: bool = False):
        s = tpdf["s"].to_numpy()
        p = tpdf["p"].to_numpy()
        o = tpdf["o"].to_numpy()
        codes, uniques = pd.factorize(
            np.concatenate([s, p, o]), sort=sort, use_na_sentinel=False
        )
        n = len(tpdf)
        self.terms = np.asarray(uniques, dtype=object)
        self.sc = codes[:n].astype(np.int64)
        self.pc = codes[n : 2 * n].astype(np.int64)
        self.oc = codes[2 * n :].astype(np.int64)
        self._index = None

    @property
    def n_terms(self) -> int:
        return len(self.terms)

    def map_terms(self, values: np.ndarray) -> np.ndarray:
        """Map arbitrary strings into the code space, EXTENDING it with
        fresh codes for unseen terms (so two different unseen constants
        never compare equal)."""
        if self._index is None:
            self._index = pd.Index(self.terms)
        codes = self._index.get_indexer(values)
        miss = codes < 0
        if miss.any():
            new_codes, new_terms = pd.factorize(
                values[miss], use_na_sentinel=False
            )
            codes = codes.astype(np.int64)
            codes[miss] = new_codes + len(self.terms)
            self.terms = np.concatenate(
                [self.terms, np.asarray(new_terms, dtype=object)]
            )
            self._index = None
        return codes.astype(np.int64)


def _cat(*parts) -> np.ndarray:
    """Vectorized string concat over object arrays / scalar strings."""
    n = next(len(p) for p in parts if isinstance(p, np.ndarray))
    out = np.full(n, "", dtype=object)
    for p in parts:
        out = out + p
    return out


def _duck():
    """Fresh in-memory DuckDB connection using all cores (the local gate
    runs on the driver box; DuckDB's parallel hash joins/aggregates are
    what make driver-local execution faster than the staged Spark plan
    at these sizes)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count() or 8}")
    return con


def _duck_args(args: dict) -> dict:
    """Scalars as DuckDB SQL, as spark.sql's formatter writes them:
    strings quoted, everything else as Python prints it."""
    return {k: "'" + v.replace("'", "''") + "'" if isinstance(v, str) else v
            for k, v in args.items()}


# --------------------------------------------------------------------------
# mining: the statements of mining/mine_sql.py in DuckDB
# --------------------------------------------------------------------------


def _atom(rules: pd.DataFrame, i: int, terms) -> np.ndarray:
    """Atom ``i`` of mining/mine_sql.py's RULES rows as canonical strings
    (meaningless where the rule has no such atom)."""
    u = rules[f"u{i}"].fillna("").to_numpy(dtype=object)
    w = rules[f"w{i}"].to_numpy(dtype=object)
    q = terms[rules[f"q{i}"].to_numpy()]
    other = np.where(pd.isna(w), _cat("C=", terms[rules[f"c{i}"].to_numpy()]),
                     w)
    return np.where(rules[f"d{i}"].to_numpy() == 0,
                    _cat(u, "|", q, "|", other), _cat(other, "|", q, "|", u))


def _reads(stmts, i: int) -> int:
    """How often the statements after ``stmts[i]`` read its relation, up
    to the one that replaces it."""
    name, n = stmts[i][0], 0
    for later, text in stmts[i + 1:]:
        n += text.count("{" + name + "}")
        if later == name:
            break
    return n


def mine_constants_local(
    tpdf: pd.DataFrame,
    params,
    constants: str = "anywhere",
    constants_for_predicates: dict | None = None,
    quasi_binding: bool = False,
    var_keys: bool = False,
) -> pd.DataFrame:
    """mine_constants on the driver: (head, p, atoms, shape, support,
    head_size, head_coverage) rows identical to the distributed miner
    (`tpdf` must be distinct (s,p,o) rows; callers dedupe). DuckDB runs
    the statements of mining/mine_sql.py over the coded triples, one
    temporary table each, or a view (a subquery of its one reader) when a
    single later statement reads it; only the RULES rows come back, and
    numpy turns their codes into the canonical strings.

    ``var_keys`` (with ``constants="nowhere"``): rows in mining/amie.py's
    schema instead (p, shape, q, d1, r, d2, head_size, support,
    head_coverage), terms of the input's type. The l3v2 pair is already in
    amie's (q, d) order, by the terms' order, and the l3v3 ?a atom first."""
    enc = _Enc(tpdf, sort=True)
    stmts, args = mine_sql.plan(params, constants, constants_for_predicates,
                                quasi_binding)
    cfp = constants_for_predicates or {}
    rel = {"T": "t", "CFP": "cfp"}
    args = _duck_args(args)
    with _duck() as con:
        # tid: the row index
        con.register("t", pd.DataFrame({
            "s": enc.sc, "p": enc.pc, "o": enc.oc,
            "tid": np.arange(len(enc.sc), dtype=np.int64)}))
        con.register("cfp", pa.table({
            "p": pa.array(enc.map_terms(np.asarray(list(cfp), dtype=object)),
                          pa.int64()),
            "pos": pa.array(list(cfp.values()), pa.string()),
        }))
        for i, (name, text) in enumerate(stmts[:-1]):
            sql = text.format(**rel, **args)
            rel[name] = f"{name.lower()}_{i}"
            kind = "VIEW" if _reads(stmts, i) <= 1 else "TABLE"
            con.execute(f"CREATE TEMP {kind} {rel[name]} AS {sql}")
        rules = con.execute(stmts[-1][1].format(**rel, **args)).df()
    terms = enc.terms
    sup = rules["support"].to_numpy()
    hs = rules["head_size"].to_numpy()
    if var_keys:
        l2 = (rules["shape"] == "l2").to_numpy()
        return pd.DataFrame({
            "p": terms[rules["p"].to_numpy()], "shape": rules["shape"],
            "q": terms[rules["q1"].to_numpy()],
            "d1": _DIRS[rules["d1"].to_numpy()],
            "r": np.where(l2, None, terms[rules["q2"].to_numpy()]),
            "d2": np.where(l2, None, _DIRS[rules["d2"].to_numpy()]),
            "head_size": hs, "support": sup, "head_coverage": sup / hs,
        })
    p = terms[rules["p"].to_numpy()]
    ha = terms[rules["ha"].to_numpy()]
    hside = rules["hs"].to_numpy()
    two = rules["u2"].notna().to_numpy()
    a1 = _atom(rules, 1, terms)
    a2 = np.where(two, _atom(rules, 2, terms), a1)
    lo, hi = np.where(a1 > a2, a2, a1), np.where(a1 > a2, a1, a2)
    return pd.DataFrame({
        "head": np.select(
            [hside < 0, hside == 0],
            [_cat("?a|", p, "|?b"), _cat("C=", ha, "|", p, "|?b")],
            _cat("?a|", p, "|C=", ha)),
        "p": p,
        "atoms": [[x, y] if t else [x] for x, y, t in zip(lo, hi, two)],
        "shape": rules["shape"],
        "support": sup,
        "head_size": hs,
        "head_coverage": sup / hs,
    })


# --------------------------------------------------------------------------
# confidences: the texts of mining/inst_sql.py in DuckDB
# --------------------------------------------------------------------------


class _UA(dict):
    """Unique-atom table stored in DataFrame.attrs — pandas deep-copies
    attrs on most frame operations, so make deepcopy the identity (the
    table is immutable by convention)."""

    def __deepcopy__(self, memo):
        return self


def _parse_rules(rules_pdf: pd.DataFrame, enc: _Enc) -> pd.DataFrame:
    """Parse rule rows into integer-coded per-rule columns. Parsing runs
    on the DISTINCT head / atom strings only (heavily shared across
    rules), then maps back through codes."""
    n = len(rules_pdf)
    R = pd.DataFrame({
        "rid": np.arange(n, dtype=np.int64),
        "shape": rules_pdf["shape"].to_numpy(),
        "support": rules_pdf["support"].to_numpy().astype(np.int64),
        "head_size": rules_pdf["head_size"].to_numpy().astype(np.int64),
        "head_coverage": rules_pdf["head_coverage"].to_numpy(),
    })
    R["p"] = enc.map_terms(rules_pdf["p"].to_numpy())

    # heads --------------------------------------------------------------
    hcodes, hstrs = pd.factorize(rules_pdf["head"].to_numpy(),
                                 use_na_sentinel=False)
    hparts = [h.split("|") for h in hstrs]
    h_s = np.asarray([p[0] for p in hparts], dtype=object)
    h_o = np.asarray([p[2] for p in hparts], dtype=object)
    # fvpos: the free variable's position for instantiated heads
    # (_head_var_pos): 0 when head subject is a variable
    fv = np.where(np.char.startswith(h_s.astype(str), "?"), 0, 1)
    # head constant (instantiated heads only; "?" heads get a fresh code
    # that never matches data)
    hconst = np.where(fv == 0, h_o, h_s)
    hconst = np.asarray(
        [c[2:] if c.startswith("C=") else "\x00?" for c in hconst],
        dtype=object,
    )
    hc_codes = enc.map_terms(hconst)
    R["fvpos"] = fv[hcodes]
    R["hA"] = hc_codes[hcodes]

    # atoms --------------------------------------------------------------
    atoms = rules_pdf["atoms"].to_numpy()
    n_at = np.asarray([len(a) for a in atoms], dtype=np.int64)
    # toPandas gives each rule's atoms as an ndarray; a Python loop over
    # 1M of them costs ~1 s more than one concatenate
    flat = (np.concatenate(atoms).astype(object) if n
            else np.empty(0, dtype=object))
    arow = np.repeat(np.arange(n, dtype=np.int64), n_at)
    offs = np.concatenate([[0], np.cumsum(n_at)[:-1]]) if n else n_at
    apos = (
        np.arange(int(n_at.sum()), dtype=np.int64)
        - np.repeat(offs, n_at)
    ) if n else np.empty(0, np.int64)
    acodes, astrs = pd.factorize(flat, use_na_sentinel=False)
    pa = [a.split("|") for a in astrs]
    a_s = np.asarray([p[0] for p in pa], dtype=object)
    a_q = np.asarray([p[1] for p in pa], dtype=object)
    a_o = np.asarray([p[2] for p in pa], dtype=object)
    is_ca = np.asarray(
        [s.startswith("C=") or o.startswith("C=") for s, o in zip(a_s, a_o)]
    )
    q_codes = enc.map_terms(a_q)
    var_at_s = np.asarray([s.startswith("?") for s in a_s])
    cst = np.where(var_at_s, a_o, a_s)
    cst = np.asarray(
        [c[2:] if c.startswith("C=") else "\x00?" for c in cst],
        dtype=object,
    )
    cst_codes = enc.map_terms(cst)
    uvar = np.where(var_at_s, a_s, a_o)  # CA: the variable name
    # per-atom integer fields, indexed by unique-atom id
    ua = {
        "is_ca": is_ca, "q": q_codes, "cst": cst_codes,
        "e": np.where(var_at_s, 0, 1).astype(np.int64),
        "uvar": uvar, "s_var": a_s, "o_var": a_o, "str": astrs,
    }
    # expand to per-rule atom slots (atom0 / atom1), preserving BOTH the
    # array order and the inst/vv sub-orders the Spark parser uses
    slot = np.full((n, 2), -1, dtype=np.int64)
    if len(arow):
        slot[arow, apos] = acodes
    R["_at0"] = slot[:, 0]
    R["_at1"] = slot[:, 1]
    # _inst / _vv ordered filters (F.filter keeps array order)
    at0_ca = np.where(slot[:, 0] >= 0, is_ca[slot[:, 0]], False)
    at1_ca = np.where(slot[:, 1] >= 0, is_ca[slot[:, 1]], False)
    R["_inst0"] = np.where(at0_ca, slot[:, 0],
                           np.where(at1_ca, slot[:, 1], -1))
    R["_inst1"] = np.where(at0_ca & at1_ca, slot[:, 1], -1)
    R["_vv0"] = np.where(~at0_ca & (slot[:, 0] >= 0), slot[:, 0],
                         np.where(~at1_ca & (slot[:, 1] >= 0),
                                  slot[:, 1], -1))
    R["_vv1"] = np.where(
        ~at0_ca & (slot[:, 0] >= 0) & ~at1_ca & (slot[:, 1] >= 0),
        slot[:, 1], -1,
    )
    R.attrs["ua"] = _UA(ua)
    return R


def _ca_fields(R: pd.DataFrame, col: str, prefix: str) -> pd.DataFrame:
    """The instantiated-atom columns of mining/inst_sql.py's rule table
    (prefix + u [0 = '?a', 1 = other], q2, cst, e) from the unique-atom
    table for the atom id in R[col]."""
    ua = R.attrs["ua"]
    safe = np.maximum(R[col].to_numpy(), 0)
    return pd.DataFrame({
        prefix + "u": np.where(ua["uvar"][safe] == "?a", 0, 1),
        prefix + "q2": ua["q"][safe],
        prefix + "cst": ua["cst"][safe],
        prefix + "e": ua["e"][safe],
    }, index=R.index)


def _vv_fields(R: pd.DataFrame, col: str, primary, prefix: str):
    """The variable-variable atom columns of mining/inst_sql.py's rule
    table (prefix + q, prefix + d) with d = 0 when the primary var is at
    subject. `primary` is a string or per-rule object array."""
    ua = R.attrs["ua"]
    ids = R[col].to_numpy()
    safe = np.maximum(ids, 0)
    d = np.where(ua["s_var"][safe] == primary, 0, 1)
    return pd.DataFrame({
        prefix + "q": ua["q"][safe],
        prefix + "d": d.astype(np.int64),
    }, index=R.index)


def _var_combos(R: pd.DataFrame) -> pd.DataFrame:
    """The l2 / l3v2 / l3v3 rules of parsed canonical rules as
    mining/inst_sql.py's coded var rule table (rid, p, shape, q, d1, r,
    d2): d = 0 for 'f', 1 for 'i'; r = q and d2 = d1 for l2."""
    ua = R.attrs["ua"]
    vv = R[R["shape"].isin(VAR_SHAPES)]
    sh = vv["shape"].to_numpy()
    v0 = vv["_vv0"].to_numpy()
    v1 = vv["_vv1"].to_numpy()
    s0 = ua["s_var"][np.maximum(v0, 0)]
    s1 = ua["s_var"][np.maximum(v1, 0)]
    o0 = ua["o_var"][np.maximum(v0, 0)]
    # l3v3: a_atom = the atom containing ?a, b_atom the one with ?b
    a_is_v0 = (s0 == "?a") | (o0 == "?a")
    av = np.where((sh == "l3v3") & ~a_is_v0, v1, v0)
    # second atom: l3v2's r/d2 always come from _vv1; l3v3's b_atom is
    # whichever atom does NOT hold ?a
    bv = np.where(sh == "l3v3", np.where(a_is_v0, v1, v0), v1)
    q = ua["q"][np.maximum(av, 0)]
    d1 = np.where(
        sh == "l3v3",
        np.where(ua["s_var"][np.maximum(av, 0)] == "?a", 0, 1),
        np.where(s0 == "?a", 0, 1),
    ).astype(np.int64)
    r = np.where(sh == "l2", q, ua["q"][np.maximum(bv, 0)])
    d2 = np.select(
        [sh == "l3v3", sh == "l3v2"],
        [np.where(ua["s_var"][np.maximum(bv, 0)] == "?b", 0, 1),
         np.where(s1 == "?a", 0, 1)],
        d1,
    ).astype(np.int64)
    return pd.DataFrame({
        "rid": vv["rid"].to_numpy(), "p": vv["p"].to_numpy(),
        "shape": sh, "q": q, "d1": d1, "r": r, "d2": d2,
    })


def _sql_local(text: str, R: pd.DataFrame, enc: _Enc,
               injective: bool) -> pd.DataFrame | None:
    """A text of mining/inst_sql.py in DuckDB over the coded triples and
    the rule table ``R`` (None when ``R`` is empty). The binding sets stay
    inside DuckDB (shipping them to Python measured 13 s of the task13
    confidence pass); only rule-table sized counts come back, NULL sizes
    as NaN."""
    if not len(R):
        return None
    with _duck() as con:
        con.register("r", R)
        con.register(
            "t", pd.DataFrame({"s": enc.sc, "p": enc.pc, "o": enc.oc})
        )
        return con.execute(text.format(T="t", R="r", inj=injective)).df()


def confidences_local(
    rules_pdf: pd.DataFrame, tpdf: pd.DataFrame, cwa: bool = True,
    pca: bool = True, min_confidence: float = 0.0, injective: bool = False,
) -> pd.DataFrame:
    """Driver-local replica of measures.confidences: the l2 / l3v2 /
    l3v3 rows of var-schema rules (mining/amie.py; p/q/r of the triples'
    term type; an l2 row's r must equal its q) with body_size,
    pca_body_size, cwa_confidence and pca_confidence appended in that
    order, each only when its measure is asked for. The sizes are
    mining/inst_sql.py's VAR_COUNTS; they are exact, so
    ``min_confidence`` filters cwa_confidence directly."""
    out = rules_pdf[rules_pdf["shape"].isin(VAR_SHAPES)].reset_index(
        drop=True
    )
    enc = _Enc(tpdf)
    d1 = (out["d1"] == "i").to_numpy()
    R = pd.DataFrame({
        "rid": np.arange(len(out), dtype=np.int64),
        "shape": out["shape"].to_numpy(),
        **{c: enc.map_terms(out[c].to_numpy(dtype=object))
           for c in ("p", "q", "r")},
        "d1": d1.astype(np.int64),
        "d2": np.where(out["shape"] == "l2", d1,
                       out["d2"] == "i").astype(np.int64),
    })
    sizes = _sql_local(VAR_COUNTS, R, enc, injective)
    sup = out["support"].to_numpy(dtype=np.float64)
    measured = {}
    for size, conf, wanted in (("body_size", "cwa_confidence", cwa),
                               ("pca_body_size", "pca_confidence", pca)):
        if wanted:
            n = (np.full(len(out), np.nan) if sizes is None else
                 sizes.set_index("rid")[size].reindex(R["rid"])
                 .to_numpy(dtype=np.float64))
            out[size] = pd.Series(n).astype("Int64")
            measured[conf] = sup / n
    out = out.assign(**measured)
    if min_confidence > 0.0:
        out = out[out["cwa_confidence"] >= min_confidence]
    return out


def _inst_sizes(R, enc, injective):
    """s4-s9 body/pca sizes: mining/inst_sql.py's COUNTS over the coded
    triples."""
    ir = R[R["shape"].isin(SQL_SHAPES)]
    fv = np.where(ir["fvpos"].to_numpy() == 0, "?a", "?b")
    return _sql_local(COUNTS, pd.concat([
        ir[["rid", "shape", "p", "hside", "fvpos", "hA"]],
        _vv_fields(ir, "_vv0", fv, "a1"),
        _vv_fields(ir, "_vv1", fv, "a2"),
        _ca_fields(ir, "_inst0", "c1"), _ca_fields(ir, "_inst1", "c2"),
    ], axis=1), enc, injective)


def confidences_constants_local(
    rules_pdf: pd.DataFrame, tpdf: pd.DataFrame, injective: bool = False
) -> pd.DataFrame:
    """Pandas replica of measures_constants.confidences_constants: rules
    rows + (rid, body_size, pca_body_size, cwa_confidence,
    pca_confidence); a zero size gives a NULL confidence, as there."""
    enc = _Enc(tpdf)
    R = _parse_rules(rules_pdf, enc)
    # R joins broadcast(side) INNER in the distributed path: rules whose
    # head predicate is absent from `triples` drop out entirely
    side = _sql_local(HSIDE, R[["rid"]], enc, False)
    hside = np.full(enc.n_terms, -1, dtype=np.int64)
    if side is not None:
        hside[side["p"].to_numpy()] = side["hside"].to_numpy()
    R["hside"] = hside[R["p"].to_numpy()]
    keep_mask = R["hside"].to_numpy() >= 0
    R = R[keep_mask].reset_index(drop=True)
    parts = [
        _sql_local(VAR_COUNTS, _var_combos(R), enc, injective),
        _inst_sizes(R, enc, injective),
    ]
    parts = [p for p in parts if p is not None and len(p)]
    if parts:
        sizes = pd.concat(parts, ignore_index=True).set_index("rid")
    else:
        sizes = pd.DataFrame(
            {"body_size": [], "pca_body_size": []}, dtype=float
        )

    out = rules_pdf.iloc[np.flatnonzero(keep_mask)].reset_index(
        drop=True
    ).copy()
    kept_rids = R["rid"].to_numpy()
    # rid = head<-atom0;atom1 from the parsed atom ids (-1 -> "")
    astr = np.append(R.attrs["ua"]["str"], "")
    at1 = R["_at1"].to_numpy()
    out["rid"] = _cat(
        out["head"].to_numpy(dtype=object), "<-",
        astr[R["_at0"].to_numpy()],
        np.where(at1 >= 0, ";", "").astype(object), astr[at1],
    )
    bs = sizes["body_size"].reindex(kept_rids).to_numpy(dtype=np.float64)
    ps = sizes["pca_body_size"].reindex(kept_rids).to_numpy(
        dtype=np.float64
    )
    sup = out["support"].to_numpy().astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        out["body_size"] = pd.Series(bs).astype("Int64")
        out["pca_body_size"] = pd.Series(ps).astype("Int64")
        out["cwa_confidence"] = np.where(
            (bs > 0), sup / bs, np.nan
        )
        out["pca_confidence"] = np.where(
            (ps > 0), sup / ps, np.nan
        )
    return out[[
        "rid", "head", "p", "atoms", "shape", "support", "head_size",
        "head_coverage", "body_size", "pca_body_size", "cwa_confidence",
        "pca_confidence",
    ]]
