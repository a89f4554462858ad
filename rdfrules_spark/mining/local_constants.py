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
the miner runs the IDENTICAL staged algebra — same survivor-set gating,
same distinct-triple / injective laws — as DuckDB SQL over
integer-coded terms, with numpy for the canonical-string emission. Above
either bound the distributed path is untouched — the 100 TB posture
always takes the distributed loop.

Engine choice, measured: a pure pandas-merge transliteration of the same
algebra ran 245 s on the task13 input (single-threaded block copies at
the 45-90M-row join intermediates); DuckDB's parallel hash joins and
aggregates run it in seconds, and per-rule COUNTS are computed inside
DuckDB so only rule-table-sized arrays cross the Arrow boundary. DuckDB
here is driver-local compute like the numpy CC gate — the correctness
oracle for the registry remains the independent DuckDB SQL written per
query, and the hard parity anchors are the executed-reference dumps, not
any SQL engine.

One SQL text, two executors: no confidence law has a twin here. The
body pairs and sizes of the var-only shapes (VAR_COUNTS) and the binding
sets, injective exclusions, s5's factorized product law and PCA laws of
the constants shapes s4-s9 (COUNTS) are the SQL text of
mining/inst_sql.py, which DuckDB runs below the gate over the
integer-coded triples (``_sql_local``) and Spark SQL runs above it
(measures.confidences, measures_constants.confidences_constants /
qpca_constants).

The miner is a 1:1 transliteration of the Spark expressions (reference
cites live in mining/constants.py; RuleRefinement.scala /
AtomCounting.scala). Parity is pinned three ways: the existing golden /
brute-oracle (tests/oracles) / executed-reference suites
(tests/test_constants_mining.py, test_refexec_parity.py,
test_refexec_confidences.py, test_task13_parity.py) exercise THIS path
at their small inputs now that the gate is on;
tests/test_local_constants.py asserts local == distributed row-for-row
at the gate boundary, every constants shape included; and the full
task13 pipeline reproduces the executed reference's 951,333 rules.

Implementation notes:
  * all terms (s/p/o/constants) share one integer code space; string
    ORDER-dependent laws (canonical atom sort, q < r tie-breaks) go
    through a rank array built from one argsort of the term table —
    code-rank comparison == UTF-8 binary comparison (same as Spark);
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
from pyspark.sql import DataFrame

from rdfrules_spark.mining.inst_sql import COUNTS, SQL_SHAPES, VAR_COUNTS

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
    mapped later, e.g. rule constants absent from the KG)."""

    def __init__(self, tpdf: pd.DataFrame):
        s = tpdf["s"].to_numpy()
        p = tpdf["p"].to_numpy()
        o = tpdf["o"].to_numpy()
        codes, uniques = pd.factorize(
            np.concatenate([s, p, o]), use_na_sentinel=False
        )
        n = len(tpdf)
        self.terms = np.asarray(uniques, dtype=object)
        self.sc = codes[:n].astype(np.int64)
        self.pc = codes[n : 2 * n].astype(np.int64)
        self.oc = codes[2 * n :].astype(np.int64)
        self._rank = None
        self._index = None

    @property
    def n_terms(self) -> int:
        return len(self.terms)

    def rank(self) -> np.ndarray:
        """code -> lexicographic rank (rank compare == string compare)."""
        if self._rank is None:
            order = np.argsort(self.terms)
            r = np.empty(len(self.terms), dtype=np.int64)
            r[order] = np.arange(len(self.terms))
            self._rank = r
        return self._rank

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
            self._rank = None
        return codes.astype(np.int64)


def _group(*arrays: np.ndarray):
    """Compact group ids for the tuple of int columns.

    Returns (gid per row in 0..G-1, representative row index per gid).
    Hierarchical pack-and-factorize keeps every intermediate in int64."""
    key = pd.factorize(np.asarray(arrays[0], dtype=np.int64))[0].astype(
        np.int64
    )
    for c in arrays[1:]:
        # factorize each column first: compacts the range, keeping the
        # pack bijective
        cc = pd.factorize(np.asarray(c, dtype=np.int64))[0].astype(np.int64)
        m = int(cc.max()) + 1 if len(cc) else 1
        key = pd.factorize(key * m + cc)[0].astype(np.int64)
    if not len(key):
        return key, np.empty(0, dtype=np.int64)
    _, first = np.unique(key, return_index=True)
    return key, first


def _cat(*parts) -> np.ndarray:
    """Vectorized string concat over object arrays / scalar strings."""
    n = next(len(p) for p in parts if isinstance(p, np.ndarray))
    out = np.full(n, "", dtype=object)
    for p in parts:
        out = out + p
    return out


def _vv_str(u: str, v: str, q: np.ndarray, d: np.ndarray, terms) -> np.ndarray:
    tq = terms[q]
    return np.where(
        d == 0, _cat(u + "|", tq, "|" + v), _cat(v + "|", tq, "|" + u)
    )


def _ca_str(u: str, q2: np.ndarray, cst: np.ndarray, e: np.ndarray,
            terms) -> np.ndarray:
    tq = terms[q2]
    tc = terms[cst]
    return np.where(
        e == 0,
        _cat(u + "|", tq, "|C=", tc),
        _cat("C=", tc, "|", tq, "|" + u),
    )


def _sorted_pair(a1: np.ndarray, a2: np.ndarray):
    """array_sort of a 2-atom array (lexicographic, like Spark)."""
    swap = a1 > a2
    lo = np.where(swap, a2, a1)
    hi = np.where(swap, a1, a2)
    return lo, hi


def _anti(left: pd.DataFrame, right: pd.DataFrame, on: list[str]):
    m = left.merge(
        right[on].drop_duplicates(), on=on, how="left", indicator=True
    )
    return m[m["_merge"] == "left_only"].drop(columns="_merge")


def _b_local(enc: _Enc) -> pd.DataFrame:
    """Direction-tagged body relation (amie._b): d=0 'f', d=1 'i'."""
    n = len(enc.sc)
    tid = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "x": np.concatenate([enc.sc, enc.oc]),
            "y": np.concatenate([enc.oc, enc.sc]),
            "q": np.concatenate([enc.pc, enc.pc]),
            "d": np.concatenate(
                [np.zeros(n, np.int64), np.ones(n, np.int64)]
            ),
            "tid": np.concatenate([tid, tid]),
        }
    )


def _cpos_local(enc: _Enc) -> pd.DataFrame:
    """Per-predicate allowed constant position for 'lcs' (constants.py
    _const_side): cpos=1 ('o') when ns >= no else 0 ('s')."""
    df = pd.DataFrame({"p": enc.pc, "s": enc.sc, "o": enc.oc})
    g = df.groupby("p", sort=False).agg(
        ns=("s", "nunique"), no=("o", "nunique")
    )
    return pd.DataFrame(
        {
            "p": g.index.to_numpy(),
            "cpos": np.where(
                g["ns"].to_numpy() >= g["no"].to_numpy(), 1, 0
            ).astype(np.int64),
        }
    )


def _ca_local(
    enc: _Enc, constants: str, constants_for_predicates: dict | None
) -> pd.DataFrame:
    """Instantiated-atom relation CA(x, q2, cst, e, ctid); e=0 means the
    VARIABLE is at subject (constant at object). Transliterates
    constants.py _catoms including ConstantsForPredicates dispatch."""
    n = len(enc.sc)
    tid = np.arange(n, dtype=np.int64)
    sub = pd.DataFrame(
        {"x": enc.sc, "q2": enc.pc, "cst": enc.oc,
         "e": np.zeros(n, np.int64), "ctid": tid}
    )
    obj = pd.DataFrame(
        {"x": enc.oc, "q2": enc.pc, "cst": enc.sc,
         "e": np.ones(n, np.int64), "ctid": tid}
    )
    both = pd.concat([sub, obj], ignore_index=True)

    def by_policy(rel_sub, rel_obj, rel_both, policy):
        if policy == "object":
            return rel_sub
        if policy == "subject":
            return rel_obj
        if policy in ("both", "anywhere"):
            return rel_both
        if policy == "lcs":
            side = _cpos_local(enc).rename(columns={"p": "q2"})
            m = rel_both.merge(side, on="q2")
            m = m[((m["e"] == 0) & (m["cpos"] == 1))
                  | ((m["e"] == 1) & (m["cpos"] == 0))]
            return m.drop(columns="cpos")
        return rel_both.iloc[0:0]  # 'nowhere'

    if constants_for_predicates is None:
        return by_policy(sub, obj, both, constants).reset_index(drop=True)
    listed_codes = enc.map_terms(
        np.asarray(list(constants_for_predicates), dtype=object)
    )
    listed_mask_sub = np.isin(sub["q2"].to_numpy(), listed_codes)
    base = by_policy(
        sub[~listed_mask_sub],
        obj[~listed_mask_sub],
        both[~np.isin(both["q2"].to_numpy(), listed_codes)],
        constants,
    )
    cfp = pd.DataFrame(
        {
            "q2": listed_codes,
            "_pos": np.asarray(
                list(constants_for_predicates.values()), dtype=object
            ),
        }
    )
    lside = _cpos_local(enc).rename(columns={"p": "q2"})
    ov = both[np.isin(both["q2"].to_numpy(), listed_codes)].merge(
        cfp, on="q2"
    ).merge(lside, on="q2", how="left")
    keep = (
        (ov["_pos"] == "both")
        | ((ov["_pos"] == "object") & (ov["e"] == 0))
        | ((ov["_pos"] == "subject") & (ov["e"] == 1))
        | ((ov["_pos"] == "lcs") & (
            ((ov["e"] == 0) & (ov["cpos"] == 1))
            | ((ov["e"] == 1) & (ov["cpos"] == 0))
        ))
    )
    ov = ov[keep].drop(columns=["_pos", "cpos"])
    return pd.concat([base, ov], ignore_index=True)


# --------------------------------------------------------------------------
# mining (transliterates mining/constants.mine_constants)
# --------------------------------------------------------------------------


def _duck():
    """Fresh in-memory DuckDB connection using all cores (the local gate
    runs on the driver box; DuckDB's parallel hash joins/aggregates are
    what make driver-local execution faster than the staged Spark plan
    at these sizes)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count() or 8}")
    return con


def mine_constants_local(
    tpdf: pd.DataFrame,
    params,
    constants: str = "anywhere",
    constants_for_predicates: dict | None = None,
    quasi_binding: bool = False,
    var_keys: bool = False,
) -> pd.DataFrame:
    """DuckDB/numpy replica of mine_constants: returns (head, p, atoms,
    shape, support, head_size, head_coverage) rows identical to the
    distributed miner (`tpdf` must be distinct (s,p,o) rows; callers
    dedupe). Each shape is ONE SQL statement mirroring the staged Spark
    aggregation (same survivor-set gating, same _ndt/_inj laws — see
    mining/constants.py for the reference cites).

    One law keeps a rule: ``support >= minSupport`` and
    ``support / head_size >= minHC``. DuckDB applies it to every shape
    before its rows are fetched, and to every gate. It also prunes the
    instantiated heads before the S6-S9 joins: an S6-S9 support counts
    distinct free-variable values of one instantiated head (p, C), so it
    is at most that head's triple count, and a head whose triple count
    fails the law has no rule.

    ``var_keys`` (with ``constants="nowhere"``): rows in mining/amie.py's
    schema instead (p, shape, q, d1, r, d2, head_size, support,
    head_coverage), terms of the input's type. The l3v2 pair is already in
    amie's (q, d) order, by the terms' order, and the l3v3 ?a atom first."""
    enc = _Enc(tpdf)
    N = enc.n_terms
    rank = enc.rank()
    inj = params.injective
    ndt = (not quasi_binding) or inj  # _ndt active
    cfp = constants_for_predicates

    n = len(tpdf)
    tid = np.arange(n, dtype=np.int64)
    htmask = (enc.sc != enc.oc) if inj else np.ones(n, dtype=bool)
    hs_by_code = np.zeros(N, dtype=np.int64)
    np.add.at(hs_by_code, enc.pc[htmask], 1)
    valid_head = hs_by_code >= params.min_head_size

    b = _b_local(enc)
    b["qr"] = rank[b["q"].to_numpy()]  # lexicographic rank for q < r laws
    ca = _ca_local(enc, constants, cfp)
    if quasi_binding and len(ca):
        # alone(CA) >= 2 — x is distinct per (q2,cst,e) by construction
        # (rows derive from distinct triples), so group size == nunique(x)
        gid, first = _group(ca["q2"].to_numpy(), ca["cst"].to_numpy(),
                            ca["e"].to_numpy())
        cnt = np.bincount(gid, minlength=len(first))
        ca_alone = ca[cnt[gid] >= 2].reset_index(drop=True)
    else:
        ca_alone = ca

    hm = htmask & valid_head[enc.pc]
    h0 = pd.DataFrame(
        {"p": enc.pc[hm], "a": enc.sc[hm], "bb": enc.oc[hm],
         "htid": tid[hm]}
    )
    heads = pd.DataFrame({
        "p": np.flatnonzero(valid_head).astype(np.int64),
        "head_size": hs_by_code[valid_head],
    })

    MS, MHC = params.min_support, params.min_head_coverage

    def passing(agg_sql: str, cols: str = "*") -> str:
        """The groups of ``agg_sql`` (p, keys..., support) that pass the
        support/minHC law, as ``cols`` (default: all, with head_size).
        Every gate and every fetched shape goes through it, so the law
        is applied once, in DuckDB, before any row reaches pandas."""
        return (f"SELECT {cols} FROM ({agg_sql}) JOIN heads USING (p) "
                f"WHERE support >= {MS} AND support / head_size >= "
                f"CAST({float(MHC)!r} AS DOUBLE)")

    out_parts: list[pd.DataFrame] = []

    def finish(agg: pd.DataFrame, shape: str, head_str, atoms,
               body_pred_cols: list[str]):
        """agg: the ``passing`` rows of one shape, 'p' = head predicate
        code. Applies the duplicate-predicate filter (constants._finish),
        then builds the canonical strings."""
        agg = agg.reset_index(drop=True)
        if not params.with_duplicate_predicates:
            preds = [agg["p"].to_numpy()] + [
                agg[c].to_numpy() for c in body_pred_cols
            ]
            dup = np.zeros(len(agg), dtype=bool)
            for i in range(len(preds)):
                for j in range(i + 1, len(preds)):
                    dup |= preds[i] == preds[j]
            agg = agg[~dup].reset_index(drop=True)
        if not len(agg):
            return
        sup, hs = agg["support"].to_numpy(), agg["head_size"].to_numpy()
        if var_keys:
            k = agg.rename(columns={"d": "d1"})
            l2 = shape == "l2"
            out_parts.append(pd.DataFrame({
                "p": enc.terms[k["p"].to_numpy()], "shape": shape,
                "q": enc.terms[k["q"].to_numpy()],
                "d1": _DIRS[k["d1"].to_numpy()],
                "r": None if l2 else enc.terms[k["r"].to_numpy()],
                "d2": None if l2 else _DIRS[k["d2"].to_numpy()],
                "head_size": hs, "support": sup, "head_coverage": sup / hs,
            }))
            return
        heads_s = head_str(agg)
        atom_arrays = atoms(agg)
        out_parts.append(pd.DataFrame({
            "head": heads_s,
            "p": enc.terms[agg["p"].to_numpy()],
            "atoms": [list(t) for t in zip(*atom_arrays)]
            if len(atom_arrays) > 1
            else [[v] for v in atom_arrays[0]],
            "shape": shape,
            "support": sup,
            "head_size": hs,
            "head_coverage": sup / hs,
        }))

    def head0(df):
        return _cat("?a|", enc.terms[df["p"].to_numpy()], "|?b")

    with _duck() as con:
        for name, df in (("b", b), ("ca", ca), ("ca_alone", ca_alone),
                         ("h0", h0), ("heads", heads)):
            con.register(name, df)

        # ---------------- H0 shapes ----------------
        ndt_m = "AND b.tid <> h0.htid" if ndt else ""
        con.execute(f"""
            CREATE TEMP TABLE m AS
            SELECT h0.p, h0.a, h0.bb, h0.htid, b.q, b.qr, b.d, b.tid
            FROM h0 JOIN b ON h0.a = b.x AND h0.bb = b.y
            WHERE (b.q <> h0.p OR b.d <> 0) {ndt_m}""")
        l2 = con.execute(passing(
            "SELECT p, q, d, count(*) AS support FROM m GROUP BY ALL"
        )).df()
        finish(
            l2, "l2", head0,
            lambda df: [_vv_str("?a", "?b", df["q"].to_numpy(),
                                df["d"].to_numpy(), enc.terms)],
            ["q"],
        )

        if params.max_rule_length >= 3:
            # survivor gating via key tables (GROUP BY keys are unique, so
            # the inner join IS a semi-join) — measurably faster than
            # EXISTS decorrelation at these sizes. The fetched l2 rows are
            # the l2 survivors.
            con.register("l2_keys", l2)
            con.execute(
                "CREATE TEMP TABLE ms AS "
                "SELECT m.* FROM m JOIN l2_keys USING (p, q, d)")

            # l3v2: {VV, VV}
            ndt_p = "AND a1.tid <> a2.tid" if ndt else ""
            l3v2 = con.execute(passing(f"""
                SELECT a1.p, a1.q, a1.d, a2.q AS r, a2.d AS d2,
                       count(*) AS support
                FROM ms a1 JOIN ms a2
                  ON a1.p = a2.p AND a1.a = a2.a AND a1.bb = a2.bb
                WHERE (a1.qr < a2.qr OR (a1.q = a2.q AND a1.d < a2.d))
                  {ndt_p}
                GROUP BY ALL""")).df()

            def atoms_l3v2(df):
                a1 = _vv_str("?a", "?b", df["q"].to_numpy(),
                             df["d"].to_numpy(), enc.terms)
                a2 = _vv_str("?a", "?b", df["r"].to_numpy(),
                             df["d2"].to_numpy(), enc.terms)
                return list(_sorted_pair(a1, a2))

            finish(l3v2, "l3v2", head0, atoms_l3v2, ["q", "r"])

            # l3 path (S3): gated by the dangling prefix survivors
            ndt_d = "AND b.tid <> h0.htid" if ndt else ""
            con.execute(f"""
                CREATE TEMP TABLE dang_a AS
                SELECT h0.p, h0.a, h0.bb, h0.htid, b.y AS c, b.q,
                       b.d AS d1, b.tid AS tid1
                FROM h0 JOIN b ON h0.a = b.x WHERE true {ndt_d}""")
            con.execute("CREATE TEMP TABLE da_keys AS " + passing(f"""
                SELECT p, q, d1, count(DISTINCT a * {N} + bb) AS support
                FROM dang_a GROUP BY ALL""", "p, q, d1"))
            con.execute(
                "CREATE TEMP TABLE dang_s AS SELECT dang_a.* FROM dang_a "
                "JOIN da_keys USING (p, q, d1)")
            ndt_j3 = ("AND b2.tid <> j.htid AND j.tid1 <> b2.tid"
                      if ndt else "")
            inj_j3 = "AND j.c <> j.a AND j.c <> j.bb" if inj else ""
            l3v3 = con.execute(passing(f"""
                SELECT j.p, j.q, j.d1, b2.q AS r, b2.d AS d2,
                       count(DISTINCT j.a * {N} + j.bb) AS support
                FROM dang_s j JOIN b b2 ON j.bb = b2.x AND j.c = b2.y
                WHERE true {ndt_j3} {inj_j3}
                GROUP BY ALL""")).df()

            def atoms_l3v3(df):
                a1 = _vv_str("?a", "?c", df["q"].to_numpy(),
                             df["d1"].to_numpy(), enc.terms)
                a2 = _vv_str("?b", "?c", df["r"].to_numpy(),
                             df["d2"].to_numpy(), enc.terms)
                return list(_sorted_pair(a1, a2))

            finish(l3v3, "l3v3", head0, atoms_l3v3, ["q", "r"])

            if constants != "nowhere" or cfp:
                # S4: {VV(a,b), CAtom on a or b}
                for role_var, key in (("?a", "a"), ("?b", "bb")):
                    ndt_s4 = (
                        "AND ca.ctid <> ms.htid AND ca.ctid <> ms.tid"
                        if ndt else ""
                    )
                    qb_s4 = ""
                    if quasi_binding:
                        # joint(CA | VV on the shared head var) >= 2,
                        # body-only
                        bvar = "x" if key == "a" else "y"
                        inj_ok = (
                            "AND b.x <> b.y AND b.tid <> ca.ctid"
                            if inj else ""
                        )
                        qb_s4 = f"""AND EXISTS (
                          SELECT 1 FROM (
                            SELECT b.q, b.d, ca.q2, ca.cst, ca.e
                            FROM b JOIN ca ON b.{bvar} = ca.x
                            WHERE true {inj_ok}
                            GROUP BY ALL HAVING count(DISTINCT ca.x) >= 2
                          ) ok
                          WHERE ok.q = ms.q AND ok.d = ms.d
                            AND ok.q2 = ca.q2 AND ok.cst = ca.cst
                            AND ok.e = ca.e
                        )"""
                    agg = con.execute(passing(f"""
                        SELECT ms.p, ms.q, ms.d, ca.q2, ca.cst, ca.e,
                               count(DISTINCT ms.a * {N} + ms.bb) AS support
                        FROM ms JOIN ca ON ms.{key} = ca.x
                        WHERE true {ndt_s4} {qb_s4}
                        GROUP BY ALL""")).df()

                    def atoms_s4(df, rv=role_var):
                        a1 = _vv_str("?a", "?b", df["q"].to_numpy(),
                                     df["d"].to_numpy(), enc.terms)
                        a2 = _ca_str(rv, df["q2"].to_numpy(),
                                     df["cst"].to_numpy(),
                                     df["e"].to_numpy(), enc.terms)
                        return list(_sorted_pair(a1, a2))

                    finish(agg, "s4", head0, atoms_s4, ["q", "q2"])

                # S5: {CAtom(a), CAtom(b)} — gated by the
                # instantiated-dangling prefix survivors
                ndt_ia = "AND c1.ctid <> h0.htid" if ndt else ""
                con.execute(f"""
                    CREATE TEMP TABLE ia AS
                    SELECT h0.p, h0.a, h0.bb, h0.htid, c1.q2 AS qa,
                           c1.cst AS csta, c1.e AS ea, c1.ctid AS ctida
                    FROM h0 JOIN ca_alone c1 ON h0.a = c1.x
                    WHERE true {ndt_ia}""")
                ndt_s5 = (
                    "AND c2.ctid <> ia.htid AND c2.ctid <> ia.ctida"
                    if ndt else ""
                )
                inj_s5 = "AND ia.a <> ia.bb" if inj else ""
                con.execute("CREATE TEMP TABLE ia_keys AS " + passing(f"""
                    SELECT p, qa, csta, ea,
                           count(DISTINCT a * {N} + bb) AS support
                    FROM ia GROUP BY ALL""", "p, qa, csta, ea"))
                con.execute(
                    "CREATE TEMP TABLE ia_s AS SELECT ia.* FROM ia "
                    "JOIN ia_keys USING (p, qa, csta, ea)")
                s5 = con.execute(passing(f"""
                    SELECT ia.p, ia.qa, ia.csta, ia.ea,
                           c2.q2, c2.cst, c2.e,
                           count(DISTINCT ia.a * {N} + ia.bb) AS support
                    FROM ia_s ia JOIN ca_alone c2 ON ia.bb = c2.x
                    WHERE true {ndt_s5} {inj_s5}
                    GROUP BY ALL""")).df()
                if quasi_binding and inj and len(s5):
                    s5 = _anti(s5, _s5_kill(ca, rank),
                               ["qa", "csta", "ea", "q2", "cst", "e"])

                def atoms_s5(df):
                    a1 = _ca_str("?a", df["qa"].to_numpy(),
                                 df["csta"].to_numpy(), df["ea"].to_numpy(),
                                 enc.terms)
                    a2 = _ca_str("?b", df["q2"].to_numpy(),
                                 df["cst"].to_numpy(), df["e"].to_numpy(),
                                 enc.terms)
                    return list(_sorted_pair(a1, a2))

                finish(s5, "s5", head0, atoms_s5, ["qa", "q2"])

        # ---------------- instantiated heads ----------------
        if constants != "nowhere" or cfp:
            for fixed_pos, fvar in (("s", "?b"), ("o", "?a")):
                if cfp is None:
                    if constants == "object" and fixed_pos == "s":
                        continue
                    if constants == "subject" and fixed_pos == "o":
                        continue
                ha, f = ("a", "bb") if fixed_pos == "s" else ("bb", "a")
                ih = pd.DataFrame({
                    "p": h0["p"].to_numpy(), "ha": h0[ha].to_numpy(),
                    "f": h0[f].to_numpy(), "htid": h0["htid"].to_numpy(),
                })
                ih = _ih_policy_filter(ih, enc, constants, cfp, fixed_pos)
                _mine_inst_shapes(
                    con, ih, fixed_pos, fvar, enc, ca, params,
                    quasi_binding, inj, ndt, passing, N, finish,
                )

    if not out_parts:
        cols = (("p", "shape", "q", "d1", "r", "d2", "head_size", "support")
                if var_keys else
                ("head", "p", "atoms", "shape", "support", "head_size"))
        return pd.DataFrame({
            **{c: pd.Series([], dtype=np.int64 if c in ("support", "head_size")
                            else object) for c in cols},
            "head_coverage": pd.Series([], dtype=np.float64),
        })
    return pd.concat(out_parts, ignore_index=True)


def _s5_kill(ca: pd.DataFrame, rank: np.ndarray) -> pd.DataFrame:
    """Injective quasi-binding kill set for {CAa, CAb} (constants.py
    s5 branch): atom pairs whose entity sets are exactly {cstA, cstB}
    cross-oriented on one predicate."""
    g = ca.groupby(["q2", "cst", "e"], sort=False)["x"]
    cc = g.agg(["nunique"]).reset_index()
    two = cc[cc["nunique"] == 2][["q2", "cst", "e"]]
    if not len(two):
        return pd.DataFrame(
            columns=["qa", "csta", "ea", "q2", "cst", "e"]
        )
    # the two distinct xs per such group, by rank order
    mem = two.merge(ca[["q2", "cst", "e", "x"]].drop_duplicates(),
                    on=["q2", "cst", "e"])
    mem["_xr"] = rank[mem["x"].to_numpy()]
    gm = mem.groupby(["q2", "cst", "e"], sort=False).agg(
        xlo=("_xr", "min"), xhi=("_xr", "max")
    ).reset_index()
    k1 = gm.rename(columns={"q2": "qa", "cst": "csta", "e": "ea",
                            "xlo": "xlo1", "xhi": "xhi1"})
    k2 = gm.rename(columns={"xlo": "xlo2", "xhi": "xhi2"})
    pairsk = k1.merge(k2, left_on="qa", right_on="q2")
    pairsk = pairsk[
        (pairsk["ea"] != pairsk["e"]) & (pairsk["csta"] != pairsk["cst"])
    ]
    cr1 = rank[pairsk["csta"].to_numpy()]
    cr2 = rank[pairsk["cst"].to_numpy()]
    clo = np.minimum(cr1, cr2)
    chi = np.maximum(cr1, cr2)
    good = (
        (pairsk["xlo1"].to_numpy() == clo)
        & (pairsk["xhi1"].to_numpy() == chi)
        & (pairsk["xlo2"].to_numpy() == clo)
        & (pairsk["xhi2"].to_numpy() == chi)
    )
    return pairsk[good][["qa", "csta", "ea", "q2", "cst", "e"]]


def _ih_policy_filter(ih, enc, constants, cfp, fixed_pos):
    """Head-constant position dispatch for instantiated heads
    (constants.py mine_constants, the cfp/lcs ih filters)."""
    if cfp is not None:
        listed_all = enc.map_terms(np.asarray(list(cfp), dtype=object))
        listed_ok = enc.map_terms(np.asarray(
            [p for p, pos in cfp.items()
             if pos == "both"
             or (pos == "subject" and fixed_pos == "s")
             or (pos == "object" and fixed_pos == "o")
             or pos == "lcs"], dtype=object))
        lcs_listed = enc.map_terms(np.asarray(
            [p for p, pos in cfp.items() if pos == "lcs"], dtype=object))
        g_ok = (
            constants in ("anywhere", "lcs")
            or (constants == "subject" and fixed_pos == "s")
            or (constants == "object" and fixed_pos == "o")
        )
        pcol = ih["p"].to_numpy()
        cond = np.isin(pcol, listed_ok)
        if g_ok:
            cond = cond | ~np.isin(pcol, listed_all)
        ih = ih[cond].reset_index(drop=True)
        if len(lcs_listed) or constants == "lcs":
            side = _cpos_local(enc)
            ih = ih.merge(side, on="p", how="left")
            pcol = ih["p"].to_numpy()
            lcs_governed = np.isin(pcol, lcs_listed) | (
                (constants == "lcs") & ~np.isin(pcol, listed_all)
            )
            fp = 1 if fixed_pos == "o" else 0
            keep = ~lcs_governed | (ih["cpos"].to_numpy() == fp)
            ih = ih[keep].drop(columns="cpos").reset_index(drop=True)
    elif constants == "lcs":
        side = _cpos_local(enc)
        fp = 1 if fixed_pos == "o" else 0
        ih = ih.merge(side, on="p")
        ih = ih[ih["cpos"].to_numpy() == fp].drop(
            columns="cpos"
        ).reset_index(drop=True)
    return ih


def _mine_inst_shapes(con, ih, fixed_pos, fvar, enc, ca, params,
                      quasi_binding, inj, ndt, passing, N, finish):
    """S6/S7/S8/S9 for one head-constant side (constants.py
    mine_constants instantiated-head block), DuckDB core."""
    terms = enc.terms
    # Head prune: every S6-S9 support counts distinct f within one
    # instantiated head (p, ha), one ih row per head triple, so it is at
    # most the head's row count; a head that fails the law mines no rule.
    con.register("ih_all", ih)
    con.execute("CREATE OR REPLACE TEMP TABLE ih AS SELECT ih_all.* FROM "
                "ih_all JOIN (" + passing(
                    "SELECT p, ha, count(*) AS support FROM ih_all "
                    "GROUP BY ALL", "p, ha") + ") USING (p, ha)")
    con.unregister("ih_all")

    def head_i(df):
        tp = terms[df["p"].to_numpy()]
        ta = terms[df["ha"].to_numpy()]
        if fixed_pos == "s":
            return _cat("C=", ta, "|", tp, "|?b")
        return _cat("?a|", tp, "|C=", ta)

    opp_e = 1 if fixed_pos == "s" else 0  # 'o' if head const at ?b side

    # S6: one CAtom on the free var (gate for S9). Group size == distinct
    # f (one row per (head triple, atom) — both sides derive from
    # distinct triples). Only the L3 shapes read ihca again, so at L2 it
    # is a subquery, not a table.
    ndt_ca = "AND ca.ctid <> ih.htid" if ndt else ""
    ihca = f"""
        SELECT ih.p, ih.ha, ih.f, ih.htid,
               ca.q2, ca.cst, ca.e, ca.ctid
        FROM ih JOIN ca_alone ca ON ih.f = ca.x
        WHERE NOT (ca.e = {opp_e} AND ca.q2 = ih.p AND ca.cst = ih.ha)
          {ndt_ca}"""
    if params.max_rule_length >= 3:
        con.execute(f"CREATE OR REPLACE TEMP TABLE ihca AS {ihca}")
        ihca = "SELECT * FROM ihca"
    s6 = con.execute(passing(
        f"SELECT p, ha, q2, cst, e, count(*) AS support FROM ({ihca}) "
        "GROUP BY ALL")).df()

    def atoms_s6(df):
        return [_ca_str(fvar, df["q2"].to_numpy(), df["cst"].to_numpy(),
                        df["e"].to_numpy(), terms)]

    finish(s6, "s6", head_i, atoms_s6, ["q2"])

    if params.max_rule_length < 3:
        return
    con.register("s6s", s6)  # the fetched s6 rows are the s6 survivors

    # dangling prefix (head) <- VV(f, c) — gate for S7/S8
    ndt_b = "AND b.tid <> ih.htid" if ndt else ""
    inj_b = "AND b.y <> ih.f" if inj else ""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE ihb AS
        SELECT ih.p, ih.ha, ih.f, b.y AS c, b.q, b.qr, b.d, b.tid,
               ih.htid
        FROM ih JOIN b ON ih.f = b.x
        WHERE true {ndt_b} {inj_b}""")
    con.execute("CREATE OR REPLACE TEMP TABLE d7_keys AS " + passing(
        "SELECT p, ha, q, d, count(DISTINCT f) AS support FROM ihb "
        "GROUP BY ALL", "p, ha, q, d"))
    con.execute(
        "CREATE OR REPLACE TEMP TABLE ihb_s AS SELECT ihb.* FROM ihb "
        "JOIN d7_keys USING (p, ha, q, d)")

    # S7: {VV(f,c), VV(f,c)} distinct pair
    ndt_p7 = "AND a1.tid <> a2.tid" if ndt else ""
    s7 = con.execute(passing(f"""
        SELECT a1.p, a1.ha, a1.q, a1.d, a2.q AS r, a2.d AS d2,
               count(DISTINCT a1.f) AS support
        FROM ihb_s a1 JOIN ihb a2
          ON a1.p = a2.p AND a1.ha = a2.ha AND a1.f = a2.f
          AND a1.c = a2.c
        WHERE (a1.qr < a2.qr OR (a1.q = a2.q AND a1.d < a2.d)) {ndt_p7}
        GROUP BY ALL""")).df()

    def atoms_s7(df):
        a1 = _vv_str(fvar, "?c", df["q"].to_numpy(), df["d"].to_numpy(),
                     terms)
        a2 = _vv_str(fvar, "?c", df["r"].to_numpy(), df["d2"].to_numpy(),
                     terms)
        return list(_sorted_pair(a1, a2))

    finish(s7, "s7", head_i, atoms_s7, ["q", "r"])

    # S8: {VV(f,c), CAtom(c)}
    ndt_s8 = (
        "AND ca.ctid <> ihb_s.htid AND ca.ctid <> ihb_s.tid" if ndt else ""
    )
    qb_s8 = ""
    if quasi_binding:
        inj_ok = "AND b.x <> b.y AND b.tid <> ca.ctid" if inj else ""
        qb_s8 = f"""AND EXISTS (
          SELECT 1 FROM (
            SELECT b.q, b.d, ca.q2, ca.cst, ca.e
            FROM b JOIN ca ON b.y = ca.x
            WHERE true {inj_ok}
            GROUP BY ALL HAVING count(DISTINCT b.y) >= 2
          ) ok
          WHERE ok.q = ihb_s.q AND ok.d = ihb_s.d AND ok.q2 = ca.q2
            AND ok.cst = ca.cst AND ok.e = ca.e
        )"""
    s8 = con.execute(passing(f"""
        SELECT ihb_s.p, ihb_s.ha, ihb_s.q, ihb_s.d,
               ca.q2, ca.cst, ca.e, count(DISTINCT ihb_s.f) AS support
        FROM ihb_s JOIN ca ON ihb_s.c = ca.x
        WHERE true {ndt_s8} {qb_s8}
        GROUP BY ALL""")).df()

    def atoms_s8(df):
        a1 = _vv_str(fvar, "?c", df["q"].to_numpy(), df["d"].to_numpy(),
                     terms)
        a2 = _ca_str("?c", df["q2"].to_numpy(), df["cst"].to_numpy(),
                     df["e"].to_numpy(), terms)
        return list(_sorted_pair(a1, a2))

    finish(s8, "s8", head_i, atoms_s8, ["q", "q2"])

    # S9: {CAtom(f), CAtom(f)} distinct pair, gated by S6 survivors on
    # the canonically-smaller atom. Atom identity = canonical string;
    # compare via a rank over the distinct CA atoms present.
    dca = con.execute("SELECT DISTINCT q2, cst, e FROM ihca").df()
    if not len(dca):
        return
    astr = _ca_str(fvar, dca["q2"].to_numpy(), dca["cst"].to_numpy(),
                   dca["e"].to_numpy(), terms)
    aord = np.argsort(astr)
    arank = np.empty(len(astr), dtype=np.int64)
    arank[aord] = np.arange(len(astr))
    dca = dca.assign(ak=arank)
    con.register("akt", dca)
    ndt_s9 = "AND a1.ctid <> a2.ctid" if ndt else ""
    qb_j = ""
    if quasi_binding:
        # joint(CA1 x CA2 on the shared var) >= 2 over the KG, body-only
        qb_j = """AND EXISTS (
          SELECT 1 FROM (
            SELECT k1.ak AS ak1, k2.ak AS ak2
            FROM (SELECT ca.x, akt.ak FROM ca JOIN akt USING (q2, cst, e))
                 k1
            JOIN (SELECT ca.x, akt.ak FROM ca JOIN akt USING (q2, cst, e))
                 k2 ON k1.x = k2.x
            WHERE k1.ak < k2.ak
            GROUP BY ALL HAVING count(DISTINCT k1.x) >= 2
          ) ok WHERE ok.ak1 = a1.ak AND ok.ak2 = a2.ak
        )"""
    s9 = con.execute(passing(f"""
        WITH ihk AS (
          SELECT ihca.*, akt.ak FROM ihca JOIN akt USING (q2, cst, e)
        ), r1 AS (
          SELECT ihk.* FROM ihk JOIN s6s USING (p, ha, q2, cst, e)
        )
        SELECT a1.p, a1.ha, a1.ak AS ak1, a2.ak AS ak2,
               a2.q2 AS q2b, a2.cst AS cstb, a2.e AS eb,
               count(*) AS support
        FROM r1 a1 JOIN ihk a2
          ON a1.p = a2.p AND a1.ha = a2.ha AND a1.f = a2.f
        WHERE a1.ak < a2.ak {ndt_s9} {qb_j}
        GROUP BY ALL""")).df()
    ak_to_q2 = np.empty(len(dca), dtype=np.int64)
    ak_to_q2[dca["ak"].to_numpy()] = dca["q2"].to_numpy()
    if len(s9):
        s9["q2a"] = ak_to_q2[s9["ak1"].to_numpy()]
    else:
        s9["q2a"] = pd.Series([], dtype=np.int64)
    astr_by_rank = np.empty(len(astr), dtype=object)
    astr_by_rank[arank] = astr

    def atoms_s9(df):
        return [astr_by_rank[df["ak1"].to_numpy()],
                astr_by_rank[df["ak2"].to_numpy()]]

    finish(s9, "s9", head_i, atoms_s9, ["q2a", "q2b"])


# --------------------------------------------------------------------------
# confidences (transliterates measures_constants.confidences_constants)
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
    side = _cpos_local(enc)
    hside = np.full(enc.n_terms, -1, dtype=np.int64)
    hside[side["p"].to_numpy()] = 1 - side["cpos"].to_numpy()
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
