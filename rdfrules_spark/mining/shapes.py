"""Generic AMIE mining for arbitrary maxRuleLength (var-only rules).

Reference: core:algorithm/amie/Amie.scala:184-231 refines rules breadth-first
to any length (default 3, AmieSpec.scala tests maxLen 2 -> 30 rules and
maxLen 4 -> 98 rules on yago). The L<=3 miners in amie.py hard-code the three
closed-rule shapes; this module generalizes the same "staged shape
enumeration" idea to any length:

  1. `enumerate_shapes(k)` lists every CLOSED CONNECTED variable-graph with
     k body atoms: head vars a,b (one occurrence each from the head atom),
     extra vars c,d,...; every variable occurs >= 2 times; every atom's two
     vars differ; the body+head edge graph is connected; shapes isomorphic
     under relabeling of the extra vars are enumerated once (lexicographic
     minimum).
  2. `mine_shape` turns ONE shape into one distributed job: the head
     relation joined with one direction-tagged atom relation per slot on
     the shared variable columns, then groupBy(rule labels).countDistinct
     (head pair). Canonicalization under the shape's automorphism group
     (extra-var permutations x permutations of equal var-pairs, with
     direction flips) keeps exactly one representative per rule.
  3. Monotone prefix pruning = the BFS thresholds: after each slot join the
     partial rule's support (countDistinct head pair per label prefix) must
     already pass minSupport and support / headSize >= minHC — support is
     anti-monotone in the body, so this drops nothing from the final answer
     while bounding the intermediate join exactly like the reference's
     per-refinement threshold (RuleRefinement.scala:144-169).

Exactness argument (same as the L3 one proven in round 1): a closed rule
passes the reference BFS iff its support >= threshold and some refinement
order exists; FreshAtomGenerator's ordering/dangling restrictions
(FreshAtomGenerator.scala:96-166) are canonical-construction devices that
preserve var-only completeness — every closed connected shape of length <= 4
admits a sorted-pair construction within maxDanglingVariables
(= floor(2*maxLen/3), AmieSettings.scala:24); pinned by the maxLen=4 golden
(98 rules) in tests/test_l4_mining.py.

Scale notes: each shape is one join DAG; the prefix-pruning semi-joins keep
intermediate label combos to the survivors only (broadcast-sized); the head
relation enters first so head-pair selectivity bounds the hub explosion;
AQE handles residual skew.
"""

from __future__ import annotations

from itertools import combinations_with_replacement, permutations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfrules_spark.mining.amie import MiningParams, _b, head_sizes

HEAD_VARS = ("a", "b")
EXTRAS = ("c", "d", "e", "f", "g")


def _closed(pairs: tuple, variables: set) -> bool:
    occ = {v: 0 for v in variables}
    occ["a"] = occ.get("a", 0) + 1
    occ["b"] = occ.get("b", 0) + 1
    for u, v in pairs:
        occ[u] += 1
        occ[v] += 1
    return all(c >= 2 for c in occ.values())


def _connected(pairs: tuple, variables: set) -> bool:
    adj = {v: set() for v in variables}
    adj["a"].add("b")
    adj["b"].add("a")
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    seen, todo = set(), ["a"]
    while todo:
        x = todo.pop()
        if x in seen:
            continue
        seen.add(x)
        todo.extend(adj[x] - seen)
    return seen == variables


def _canon_pairs(pairs, sigma: dict) -> tuple:
    out = []
    for u, v in pairs:
        u2, v2 = sigma.get(u, u), sigma.get(v, v)
        out.append((u2, v2) if u2 < v2 else (v2, u2))
    return tuple(sorted(out))


def enumerate_shapes(k: int) -> list[tuple]:
    """All canonical closed connected shapes with k body atoms; a shape is a
    sorted tuple of ('u','v') var pairs (u < v)."""
    shapes = []
    max_extras = k - 1
    for n_extra in range(0, max_extras + 1):
        variables = set(HEAD_VARS) | set(EXTRAS[:n_extra])
        all_pairs = sorted(
            (u, v)
            for i, u in enumerate(sorted(variables))
            for v in sorted(variables)
            if u < v
        )
        for pairs in combinations_with_replacement(all_pairs, k):
            used = {x for p in pairs for x in p}
            if not (set(EXTRAS[:n_extra]) <= used):
                continue  # every declared extra must appear
            if not _closed(pairs, variables):
                continue
            if not _connected(pairs, variables):
                continue
            # canonical under extra-var relabeling: keep the lexicographic
            # minimum representative only
            canon = min(
                _canon_pairs(pairs, dict(zip(EXTRAS[:n_extra], perm)))
                for perm in permutations(EXTRAS[:n_extra])
            ) if n_extra > 1 else tuple(sorted(pairs))
            if tuple(sorted(pairs)) == canon and tuple(sorted(pairs)) not in shapes:
                shapes.append(tuple(sorted(pairs)))
    return shapes


def shape_name(pairs: tuple) -> str:
    return "-".join(u + v for u, v in pairs)


def shape_reachable(
    pairs: tuple, max_rule_length: int, multi_open_danglings: bool = False
) -> bool:
    """Is the shape constructible under the reference's refinement
    discipline? (FreshAtomGenerator.scala:96-166 + the empirically pinned
    at-most-one-open-extra-dangling law — see tests/oracles/refsim.py.)

    Construction = atoms in non-decreasing var-pair order with extras named
    in order of first appearance; per step: the fresh atom may touch at
    most one new variable (the next dangling), may not open a new dangling
    while an extra variable is still dangling, one of its vars must be <=
    every current dangling, untouched danglings bounded by remaining steps
    and floor(2*maxLen/3). Reachable iff ANY extra-var naming admits a
    valid sorted construction. Pinned by AmieSpec maxLen goldens
    (30/67/124/98 — the 98 excludes the ac-bd-cd path shape at L4)."""
    extras = sorted({x for p in pairs for x in p} - set(HEAD_VARS))
    vnum = {"a": 0, "b": 1}
    max_danglings = (max_rule_length * 2) // 3
    for perm in permutations(range(2, 2 + len(extras))):
        naming = dict(zip(extras, perm), **vnum)
        atoms = sorted(
            tuple(sorted((naming[u], naming[v]))) for u, v in pairs
        )
        danglings = [1, 0]
        max_var = 1
        ok = True
        for step, (u, v) in enumerate(atoms):
            next_dangling = max_var + 1
            rule_length = step + 1  # body size so far + head
            if u > next_dangling or v > next_dangling:
                ok = False  # violates introduction-order naming
                break
            opens = u == next_dangling or v == next_dangling
            if (
                not multi_open_danglings
                and opens
                and any(d >= 2 for d in danglings)
            ):
                # published-spec law only: the executed reference bounds
                # open danglings solely by max_danglings below
                # (FreshAtomGenerator.scala:117-123)
                ok = False
                break
            if danglings:  # dangling-rule checks
                s_low = all(u <= d for d in danglings)
                o_low = all(v <= d for d in danglings)
                rem = sum(1 for d in danglings if d != u and d != v)
                max_possible = (max_rule_length - rule_length - 1) * 2
                if not (s_low or o_low):
                    ok = False
                    break
                if rem > max_possible or rem + (1 if opens else 0) > max_danglings:
                    ok = False
                    break
            if rule_length + 1 >= max_rule_length and opens:
                ok = False  # closing atom may not open a dangling
                break
            head_dangling = [next_dangling] if opens else []
            danglings = head_dangling + [
                d for d in danglings if d != u and d != v
            ]
            max_var = max(max_var, u, v)
        if ok and not danglings:
            return True
    return False


def _automorphisms(pairs: tuple) -> list[tuple[tuple, tuple]]:
    """All label-permuting symmetries of the shape: slot permutation pi plus
    per-target-slot direction-flip flags. Element (pi, flips): the rule with
    slot labels L is isomorphic to the rule with labels
    L'[t] = flip(L[pi[t]], flips[t])."""
    n = len(pairs)
    extras = sorted({x for p in pairs for x in p} - set(HEAD_VARS))
    elements = set()
    for perm in permutations(extras):
        sigma = dict(zip(extras, perm))
        mapped = []  # per source slot: (target pair, flipped?)
        for u, v in pairs:
            u2, v2 = sigma.get(u, u), sigma.get(v, v)
            if u2 < v2:
                mapped.append(((u2, v2), False))
            else:
                mapped.append(((v2, u2), True))
        if sorted(m[0] for m in mapped) != list(pairs):
            continue
        # all bijections source slot -> target slot preserving pairs
        slots_by_pair: dict[tuple, list[int]] = {}
        for t, p in enumerate(pairs):
            slots_by_pair.setdefault(p, []).append(t)

        def assign(src: int, taken: dict, acc: list) -> None:
            if src == n:
                pi = [0] * n
                flips = [False] * n
                for s, (t, fl) in enumerate(acc):
                    pi[t] = s
                    flips[t] = fl
                elements.add((tuple(pi), tuple(flips)))
                return
            pair, fl = mapped[src]
            for t in slots_by_pair[pair]:
                if t not in taken:
                    taken[t] = True
                    assign(src + 1, taken, acc + [(t, fl)])
                    del taken[t]

        assign(0, {}, [])
    ident = (tuple(range(n)), tuple([False] * n))
    return [e for e in elements if e != ident]


def _flip(d_col):
    return F.when(d_col == "f", F.lit("i")).otherwise(F.lit("f"))


def _lex_le(cols_a: list, cols_b: list):
    """Column condition: tuple(cols_a) <= tuple(cols_b) lexicographically."""
    cond = F.lit(True)
    for x, y in reversed(list(zip(cols_a, cols_b))):
        cond = F.when(x < y, F.lit(True)).when(x > y, F.lit(False)).otherwise(cond)
    return cond


def _slot_order(pairs: tuple) -> list[int]:
    """Join order: each next slot shares the most already-bound variables
    (greedy), starting from the head vars — keeps every join an equi-join
    on at least one bound column."""
    bound = set(HEAD_VARS)
    remaining = list(range(len(pairs)))
    order = []
    while remaining:
        best = max(
            remaining,
            key=lambda i: (len(set(pairs[i]) & bound), -remaining.index(i)),
        )
        if not set(pairs[best]) & bound:
            raise ValueError(f"disconnected shape {pairs}")
        order.append(best)
        bound |= set(pairs[best])
        remaining.remove(best)
    return order


def mine_shape(
    triples: DataFrame,
    heads: DataFrame,
    pairs: tuple,
    params: MiningParams,
    b_rel: DataFrame | None = None,
) -> DataFrame:
    """One shape -> one distributed job -> rule rows
    (p, shape, body, head_size, support, head_coverage)."""
    from rdfrules_spark.mining.amie import _btid, _htid

    from rdfrules_spark.mining.amie import _head_rel, _scale_support

    b = b_rel if b_rel is not None else _b(triples)
    n = len(pairs)
    h = _head_rel(triples, params, "a", "b").join(
        F.broadcast(heads), "p"
    ).withColumn("_htid", _htid())
    order = _slot_order(pairs)
    cur = h
    bound = set(HEAD_VARS)
    # support >= minSupport and support / head_size >= minHC, the law the
    # finished rule passes below
    def passes(sup):
        return (sup >= params.min_support) & (
            sup / F.col("head_size") >= params.min_head_coverage
        )

    joined_slots: list[int] = []
    for step, i in enumerate(order):
        u, v = pairs[i]
        bi = b.select(
            F.col("x").alias(u), F.col("y").alias(v),
            F.col("q").alias(f"q{i}"), F.col("d").alias(f"d{i}"),
            _btid().alias(f"_tid{i}"),
        )
        shared = [w for w in (u, v) if w in bound]
        cur = cur.join(bi, shared)
        bound |= {u, v}
        joined_slots.append(i)
        if pairs[i] == ("a", "b"):
            # never re-derive the head atom itself
            cur = cur.where(
                (F.col(f"q{i}") != F.col("p")) | (F.col(f"d{i}") != "f")
            )
        # distinct-triple support: no atom binds the head triple or the
        # same triple as another atom (see amie.mine_l2 docstring)
        cur = cur.where(F.col(f"_tid{i}") != F.col("_htid"))
        for j in joined_slots[:-1]:
            cur = cur.where(F.col(f"_tid{i}") != F.col(f"_tid{j}"))
        if not params.with_duplicate_predicates:
            cur = cur.where(F.col(f"q{i}") != F.col("p"))
            for j in joined_slots[:-1]:
                cur = cur.where(F.col(f"q{i}") != F.col(f"q{j}"))
        # atoms on the same var pair must be distinct atoms
        for j in joined_slots[:-1]:
            if pairs[j] == pairs[i]:
                cur = cur.where(
                    (F.col(f"q{i}") != F.col(f"q{j}"))
                    | (F.col(f"d{i}") != F.col(f"d{j}"))
                )
        if step < n - 1:
            # monotone prefix pruning (the BFS threshold): the partial
            # rule's support already bounds the final one from above
            label_cols = [c for j in joined_slots for c in (f"q{j}", f"d{j}")]
            surv = (
                cur.groupBy("p", "head_size", *label_cols)
                .agg(F.countDistinct("a", "b").alias("_sup"))
                .where(passes(F.col("_sup")))
                .select("p", *label_cols)
                .localCheckpoint(eager=True)
            )
            cur = cur.join(surv, ["p", *label_cols], "left_semi")
    # canonicalization under shape automorphisms: keep the lexicographically
    # least label assignment of each isomorphism class
    labels = [(F.col(f"q{i}"), F.col(f"d{i}")) for i in range(n)]
    flat = [c for ql in labels for c in ql]
    for pi, flips in _automorphisms(pairs):
        permuted = []
        for t in range(n):
            qs, ds = labels[pi[t]]
            permuted.extend([qs, _flip(ds) if flips[t] else ds])
        cur = cur.where(_lex_le(flat, permuted))
    if params.injective:
        # pairwise-distinct variable values (InjectiveMapping)
        all_vars = sorted(bound)
        for i, u in enumerate(all_vars):
            for v in all_vars[i + 1:]:
                cur = cur.where(F.col(u) != F.col(v))
    label_cols = [c for i in range(n) for c in (f"q{i}", f"d{i}")]
    agg = _scale_support(
        cur.groupBy("p", "head_size", *label_cols)
        .agg(F.countDistinct("a", "b").alias("support")), params, triples)
    agg = (
        agg
        .withColumn("head_coverage", F.col("support") / F.col("head_size"))
        .where(
            (F.col("support") >= params.min_support)
            & (F.col("head_coverage") >= params.min_head_coverage)
        )
    )
    body = F.concat_ws(
        ";",
        *[
            F.concat_ws(" ", F.lit(pairs[i][0] + pairs[i][1]),
                        F.col(f"q{i}"), F.col(f"d{i}"))
            for i in range(n)
        ],
    )
    return agg.select(
        "p",
        F.lit(shape_name(pairs)).alias("shape"),
        body.alias("body"),
        "head_size", "support", "head_coverage",
    )


def mine_upto(triples: DataFrame, params: MiningParams | None = None) -> DataFrame:
    """Var-only mining to ANY max_rule_length: union of one job per closed
    shape of every body length 1..max_rule_length-1. Returns the generic
    rule schema (p, shape, body, head_size, support, head_coverage)."""
    params = params or MiningParams()
    if params.only_predicates is not None:
        triples = triples.where(F.col("p").isin(params.only_predicates))
    if params.without_predicates is not None:
        triples = triples.where(~F.col("p").isin(params.without_predicates))
    heads = head_sizes(triples, params)
    b = _b(triples).localCheckpoint(eager=True)
    import time as _time

    t0 = _time.time()
    out = None
    for k in range(1, params.max_rule_length):
        for pairs in enumerate_shapes(k):
            if not shape_reachable(
                pairs, params.max_rule_length,
                params.multi_open_danglings,
            ):
                continue
            if (
                params.timeout_s is not None
                and out is not None
                and _time.time() - t0 > params.timeout_s
            ):
                # anytime: stop launching further shape jobs (Timeout)
                return out
            r = mine_shape(triples, heads, pairs, params, b_rel=b)
            if params.timeout_s is not None:
                r = r.localCheckpoint(eager=True)
            out = r if out is None else out.unionByName(r)
    if params.top_k:
        kth = (
            out.select("head_coverage")
            .orderBy(F.desc("head_coverage"))
            .limit(params.top_k)
            .agg(F.min("head_coverage").alias("kth"))
        )
        out = out.join(F.broadcast(kth)).where(
            F.col("head_coverage") >= F.col("kth")
        ).drop("kth")
    return out
