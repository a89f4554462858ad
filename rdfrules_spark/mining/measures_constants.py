"""Confidence measures for canonical rules WITH constants
(mining/constants.py output rows: head, p, atoms array<string>, shape,
support, head_size, head_coverage).

Reference semantics (core:algorithm/amie/RuleCounting.scala):
  bodySize      = #distinct bindings of the HEAD variables over the body
  pcaBodySize   = bodySize restricted to bindings whose head entity on the
                  head predicate's higherCardinalitySide exists for p
                  (RuleCounting.scala:235-296). For instantiated heads the
                  higher side may be the CONSTANT side — then the
                  restriction is a per-rule boolean (C present on that
                  side), scaling pcaBodySize to bodySize or 0.

Each shape is one aggregation job over the parsed atom components; rules
are keyed by `rid` (head + canonical body). CWA = support/body_size;
PCA = support/pca_body_size. The instantiated-head shapes s6-s9 are not
DataFrame code: their laws are the one SQL text of mining/inst_sql.py,
run here through ``spark.sql`` over the triples and a rule table with
0/1 position tags (``_inst_rules``), and by DuckDB on the driver-local
path — two executors, one law. qpca_constants reads the raw binding sets
of the same text.

Driver-local gate (``local_constants.collect_local``, the same one
mining/constants.mine_constants uses): the triples are collected under
``local_threshold`` (default ``LOCAL_TRIPLES_MAX``) and then the rules
under ``LOCAL_RULES_MAX``; each bounded collect is its own probe, one
task whatever the number of input partitions. Within both bounds the
confidences run on the driver, above either the distributed plan below
runs. A ruleset mined on the driver therefore makes one Arrow round trip
(createDataFrame, then this collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfrules_spark.mining.inst_sql import (
    COUNTS,
    INST_SHAPES,
    RAW_PREDICTIONS,
)
from rdfrules_spark.mining.local_constants import (
    LOCAL_RULES_MAX,
    LOCAL_TRIPLES_MAX,
    collect_local,
    confidences_constants_local,
)


def _split(col, i):
    return F.split(col, "\\|")[i]


def _with_rid(rules: DataFrame) -> DataFrame:
    return rules.withColumn(
        "rid", F.concat_ws("<-", F.col("head"), F.array_join("atoms", ";"))
    )


def _atom_struct(a):
    return F.struct(
        _split(a, 0).alias("s"), _split(a, 1).alias("q"), _split(a, 2).alias("o")
    )


def _parsed(rules: DataFrame) -> DataFrame:
    out = rules.withColumn("_ats", F.transform("atoms", _atom_struct))
    inst = F.filter(
        "_ats", lambda a: a["s"].startswith("C=") | a["o"].startswith("C=")
    )
    vv = F.filter(
        "_ats", lambda a: a["s"].startswith("?") & a["o"].startswith("?")
    )
    return out.withColumn("_inst", inst).withColumn("_vv", vv)


def _ca_cols(atom, prefix: str):
    """Instantiated atom -> (var, q2, cst, e) columns; e = var position."""
    var_at_s = atom["s"].startswith("?")
    return [
        F.when(var_at_s, atom["s"]).otherwise(atom["o"]).alias(prefix + "u"),
        atom["q"].alias(prefix + "q2"),
        F.substring(
            F.when(var_at_s, atom["o"]).otherwise(atom["s"]), 3, 1_000_000
        ).alias(prefix + "cst"),
        F.when(var_at_s, "s").otherwise("o").alias(prefix + "e"),
    ]


def _vv_cols(atom, primary_var, prefix: str):
    """VV atom -> (q, d) with d='f' when primary_var is at subject."""
    return [
        atom["q"].alias(prefix + "q"),
        F.when(atom["s"] == primary_var, "f").otherwise("i").alias(prefix + "d"),
    ]


def _ents(triples: DataFrame) -> DataFrame:
    """E(q2, cst, e, x): entities matching an instantiated-atom pattern."""
    return triples.select(
        F.col("p").alias("q2"), F.col("o").alias("cst"),
        F.lit("s").alias("e"), F.col("s").alias("x"),
    ).unionByName(
        triples.select(
            F.col("p").alias("q2"), F.col("s").alias("cst"),
            F.lit("o").alias("e"), F.col("o").alias("x"),
        )
    )


def _side(triples: DataFrame) -> DataFrame:
    """higherCardinalitySide per predicate ('s' or 'o')."""
    return triples.groupBy("p").agg(
        F.countDistinct("s").alias("ns"), F.countDistinct("o").alias("no")
    ).select(
        "p", F.when(F.col("ns") >= F.col("no"), "s").otherwise("o").alias("hside")
    )


def _side_ents(triples: DataFrame) -> DataFrame:
    """SE(p, pos, x): distinct entities of p at position pos."""
    return triples.select(
        "p", F.lit("s").alias("pos"), F.col("s").alias("x")
    ).unionByName(
        triples.select("p", F.lit("o").alias("pos"), F.col("o").alias("x"))
    ).distinct()


def _b_rel(triples: DataFrame) -> DataFrame:
    return triples.select(
        F.col("s").alias("x"), F.col("o").alias("y"), F.col("p").alias("q"),
        F.lit("f").alias("d"),
    ).unionByName(
        triples.select(
            F.col("o").alias("x"), F.col("s").alias("y"),
            F.col("p").alias("q"), F.lit("i").alias("d"),
        )
    )


def _inst_rules(R: DataFrame) -> DataFrame:
    """The s6-s9 rows of the parsed rules as mining/inst_sql.py's rule
    table, with 0/1 position tags."""
    head_s = _split(F.col("head"), 0)
    var_head_s = head_s.startswith("?")
    fv = F.when(var_head_s, "?a").otherwise("?b")

    def vv(i, prefix):
        a = F.get("_vv", i)
        return [a["q"].alias(prefix + "q"),
                F.when(a["s"] == fv, 0).otherwise(1).alias(prefix + "d")]

    def ca(i, prefix):
        a = F.get("_inst", i)
        var_s = a["s"].startswith("?")
        cst = F.when(var_s, a["o"]).otherwise(a["s"])
        return [a["q"].alias(prefix + "q2"),
                F.substring(cst, 3, 1_000_000).alias(prefix + "cst"),
                F.when(var_s, 0).otherwise(1).alias(prefix + "e")]

    head_const = F.when(var_head_s, _split(F.col("head"), 2)).otherwise(head_s)
    return R.where(F.col("shape").isin(*INST_SHAPES)).select(
        "rid", "shape", "p",
        F.when(F.col("hside") == "s", 0).otherwise(1).alias("hside"),
        F.when(var_head_s, 0).otherwise(1).alias("fvpos"),
        F.substring(head_const, 3, 1_000_000).alias("hA"),
        *vv(0, "a1"), *vv(1, "a2"), *ca(0, "c1"), *ca(1, "c2"),
    )


def _inst_sql(text: str, t: DataFrame, R: DataFrame,
              injective: bool) -> DataFrame:
    """A text of mining/inst_sql.py through ``spark.sql``. spark.sql drops
    the temporary views it names its DataFrame arguments by, and dropping
    a view uncaches every cached plan with the same result — the caller's
    cached triples among them. The marker column makes the triples
    argument a different plan, which still reads that cache."""
    return t.sparkSession.sql(
        text, T=t.withColumn("_arg", F.lit(1)), R=_inst_rules(R),
        inj=injective,
    )


def _psize(t: DataFrame, injective: bool, key: str, out: str) -> DataFrame:
    """Predicate relation size (scoreAtom for a 2-var atom,
    AtomCounting.scala:29-40): non-reflexive triple count under
    injective."""
    tt = t.where(F.col("s") != F.col("o")) if injective else t
    return tt.groupBy(F.col("p").alias(key)).agg(
        F.count(F.lit(1)).alias(out)
    )


def _casize(E: DataFrame, prefix: str, out: str) -> DataFrame:
    """Instantiated-atom slice size (scoreAtom for a 1-var atom):
    non-reflexive = entities x != cst."""
    return E.where(F.col("x") != F.col("cst")).groupBy(
        F.col("q2").alias(prefix + "q2"), F.col("cst").alias(prefix + "cst"),
        F.col("e").alias(prefix + "e"),
    ).agg(F.count(F.lit(1)).alias(out))


#: output schema of confidences_constants (both execution paths)
_CONF_SCHEMA = (
    "rid string, head string, p string, atoms array<string>, shape string, "
    "support long, head_size long, head_coverage double, body_size long, "
    "pca_body_size long, cwa_confidence double, pca_confidence double"
)


def confidences_constants(
    rules: DataFrame, triples: DataFrame, injective: bool = False,
    local_threshold: int = LOCAL_TRIPLES_MAX,
) -> DataFrame:
    """Attach body_size, cwa_confidence, pca_body_size, pca_confidence to
    every canonical rule row (all 9 shapes).

    ``injective=True`` reproduces the reference Ruleset.computeConfidence
    default (injectiveMapping=true, Ruleset.scala:186): pairwise-distinct
    variable bindings — RulesetSpec's 105/12/57/810 confidence goldens need
    it even though mining itself counts support non-injectively.

    Within the driver-local gate (module docstring) the identical
    per-shape algebra runs vectorized on the driver — at tiny inputs the
    ~40-stage distributed plan below is pure scheduling overhead."""
    tpdf = collect_local(triples.select("s", "p", "o"), local_threshold)
    rules_pdf = None if tpdf is None else collect_local(
        rules.select("head", "p", "atoms", "shape", "support", "head_size",
                     "head_coverage"),
        LOCAL_RULES_MAX,
    )
    if rules_pdf is not None:
        out = confidences_constants_local(
            rules_pdf, tpdf.drop_duplicates(), injective
        )
        return triples.sparkSession.createDataFrame(
            out, schema=_CONF_SCHEMA
        )

    t = triples.select("s", "p", "o")
    E = _ents(t)
    SE = _side_ents(t)
    side = _side(t)
    b = _b_rel(t)
    # R is referenced by every shape branch (and measures.confidences reads
    # its input many times) — eager-checkpoint once; it is rule-table sized
    R = _parsed(_with_rid(rules)).join(F.broadcast(side), "p").localCheckpoint(
        eager=True
    )
    present = {r["shape"] for r in R.select("shape").distinct().collect()}

    outs = []

    def finish(shaped, sizes):
        """sizes: (rid, body_size, pca_body_size)."""
        out = shaped.join(sizes, "rid", "left").select(
            "rid", "head", "p", "atoms", "shape", "support", "head_size",
            "head_coverage", "body_size", "pca_body_size",
        )
        outs.append(out)

    # ---- var-only shapes: delegate to measures.confidences, which counts
    # body pairs ONCE PER COMBO (q,d1,r,d2) — per-rule joins here would
    # repeat the quadratic path join for every rule sharing a combo ----
    if present & {"l2", "l3v2", "l3v3"}:
        from rdfrules_spark.mining.measures import confidences

        vvshaped = R.where(F.col("shape").isin("l2", "l3v2", "l3v3"))

        def _d(atom, primary):
            return F.when(atom["s"] == primary, "f").otherwise("i")

        a_atom = F.filter(
            "_vv", lambda a: (a["s"] == "?a") | (a["o"] == "?a")
        )[0]
        b_atom = F.filter(
            "_vv", lambda a: (a["s"] == "?b") | (a["o"] == "?b")
        )[0]
        comp = vvshaped.select(
            "rid", "p", "shape", "support", "head_size", "head_coverage",
            F.when(F.col("shape") == "l3v3", a_atom["q"])
            .otherwise(F.col("_vv")[0]["q"]).alias("q"),
            F.when(F.col("shape") == "l3v3", _d(a_atom, F.lit("?a")))
            .otherwise(_d(F.col("_vv")[0], F.lit("?a"))).alias("d1"),
            F.when(F.col("shape") == "l3v3", b_atom["q"])
            .when(F.col("shape") == "l3v2", F.col("_vv")[1]["q"])
            .otherwise(F.lit(None)).alias("r"),
            F.when(F.col("shape") == "l3v3", _d(b_atom, F.lit("?b")))
            .when(F.col("shape") == "l3v2", _d(F.col("_vv")[1], F.lit("?a")))
            .otherwise(F.lit(None)).alias("d2"),
        )
        sizes = confidences(
            comp.localCheckpoint(eager=True), t, injective=injective
        ).select("rid", "body_size", "pca_body_size")
        finish(vvshaped, sizes)

    # ---- s4: {VV(a,b), CAtom(x)} ----
    s4 = R.where(F.col("shape") == "s4").select(
        "rid", "p", "hside",
        *_vv_cols(F.col("_vv")[0], F.lit("?a"), "a1"),
        *_ca_cols(F.col("_inst")[0], "c1"),
    )
    j = s4.join(
        b.select(F.col("q").alias("a1q"), F.col("d").alias("a1d"),
                 F.col("x").alias("va"), F.col("y").alias("vb")),
        ["a1q", "a1d"],
    ).join(
        E.select(F.col("q2").alias("c1q2"), F.col("cst").alias("c1cst"),
                 F.col("e").alias("c1e"), F.col("x").alias("cx")),
        ["c1q2", "c1cst", "c1e"],
    ).where(
        F.col("cx") == F.when(F.col("c1u") == "?a", F.col("va"))
        .otherwise(F.col("vb"))
    )
    if injective:
        j = j.where(F.col("va") != F.col("vb"))
        # head-instance reuse (AtomCounting.scala:159-216): when the pair
        # completes, the atoms bound SO FAR must not contain the
        # instantiated head (va p vb). bestAtom (scoreAtom = slice size,
        # non-reflexive under injective) binds the smaller atom first; the
        # CA triple is in the map at pair completion only when the CA
        # binds first (CA score <= VV score — on ties the CA, added last
        # to the body, is the first minimum of the insertion-ordered
        # bodySet). The VV atom always completes the pair, and a VV==head
        # collision is impossible (mining bans (a p b) body atoms).
        j = j.join(_psize(t, injective, "a1q", "_vsz"), "a1q", "left").join(
            _casize(E, "c1", "_csz"), ["c1q2", "c1cst", "c1e"], "left"
        ).fillna(0, ["_vsz", "_csz"])
        head_eq = (F.col("_csz") <= F.col("_vsz")) & (
            F.col("c1q2") == F.col("p")
        ) & (
            ((F.col("c1u") == "?a") & (F.col("c1e") == "s")
             & (F.col("vb") == F.col("c1cst")))
            | ((F.col("c1u") == "?b") & (F.col("c1e") == "o")
               & (F.col("va") == F.col("c1cst")))
        )
        # body-triple reuse: VV instance == CA instance (InjectiveMapping
        # atom set, VariableMap.scala:254-286)
        reuse = (F.col("a1q") == F.col("c1q2")) & (
            ((F.col("c1u") == "?a") & (F.col("vb") == F.col("c1cst"))
             & (((F.col("c1e") == "s") & (F.col("a1d") == "f"))
                | ((F.col("c1e") == "o") & (F.col("a1d") == "i"))))
            | ((F.col("c1u") == "?b") & (F.col("va") == F.col("c1cst"))
               & (((F.col("c1e") == "s") & (F.col("a1d") == "i"))
                  | ((F.col("c1e") == "o") & (F.col("a1d") == "f"))))
        )
        j = j.where(~head_eq & ~reuse)
    pairs = j.select("rid", "p", "hside", "va", "vb").distinct().withColumn(
        "_hvv", F.when(F.col("hside") == "s", F.col("va"))
        .otherwise(F.col("vb"))
    )
    SEr4 = SE.select(F.col("p").alias("_p"), F.col("pos").alias("_pos"),
                     F.col("x").alias("_hv"))
    pca_pairs = pairs.join(
        SEr4,
        (F.col("_hvv") == F.col("_hv"))
        & (F.col("p") == F.col("_p")) & (F.col("hside") == F.col("_pos")),
        "left_semi",
    )
    sizes = pairs.groupBy("rid").agg(F.count(F.lit(1)).alias("body_size")).join(
        pca_pairs.groupBy("rid").agg(F.count(F.lit(1)).alias("pca_body_size")),
        "rid", "left",
    )
    finish(R.where(F.col("shape") == "s4"), sizes)

    # ---- s5: {CAtom(a), CAtom(b)}: product of the two entity sets ----
    s5 = R.where(F.col("shape") == "s5").select(
        "rid", "p", "hside",
        *_ca_cols(F.col("_inst")[0], "c1"), *_ca_cols(F.col("_inst")[1], "c2"),
    )

    def ca_counts(df, pfx):
        jj = df.select("rid", "p", "hside", f"{pfx}u", f"{pfx}q2",
                       f"{pfx}cst", f"{pfx}e").join(
            E.select(F.col("q2").alias(f"{pfx}q2"),
                     F.col("cst").alias(f"{pfx}cst"),
                     F.col("e").alias(f"{pfx}e"), F.col("x")),
            [f"{pfx}q2", f"{pfx}cst", f"{pfx}e"],
        )
        # does this atom bind the head's higher-side variable?
        on_hside = (
            ((F.col(f"{pfx}u") == "?a") & (F.col("hside") == "s"))
            | ((F.col(f"{pfx}u") == "?b") & (F.col("hside") == "o"))
        )
        SEc = SE.select(F.col("p").alias("_p"), F.col("pos").alias("_pos"),
                        F.col("x").alias("_x"))
        in_side = jj.join(
            SEc,
            (F.col("p") == F.col("_p")) & (F.col("hside") == F.col("_pos"))
            & (F.col("x") == F.col("_x")),
            "left_semi",
        )
        n = jj.groupBy("rid").agg(F.count(F.lit(1)).alias(f"{pfx}n"))
        npca = in_side.groupBy("rid").agg(F.count(F.lit(1)).alias(f"{pfx}np"))
        flag = df.select("rid", on_hside.alias(f"{pfx}hs"))
        return n.join(npca, "rid", "left").join(flag, "rid").fillna(
            {f"{pfx}np": 0}
        )

    c1 = ca_counts(s5, "c1")
    c2 = ca_counts(s5, "c2")
    s5sizes = c1.join(c2, "rid").select(
        "rid",
        (F.col("c1n") * F.col("c2n")).alias("body_size"),
        F.when(F.col("c1hs"), F.col("c1np") * F.col("c2n"))
        .otherwise(F.col("c1n") * F.col("c2np")).alias("pca_body_size"),
    )
    if injective:
        # Full injective law (AtomCounting.scala:199-202 + the
        # InjectiveMapping atom set): a pair (a, b) in A x B counts iff
        # a != b, neither body triple equals the instantiated head
        # (a p b), and the two body triples are distinct. The excluded
        # subsets of A x B are the diagonal, at most two lines (b == cstA
        # when CA_a mirrors the head; a == cstB when CA_b does) and one
        # point (the two CAs binding the same triple cross-oriented) — all
        # countable from per-rule aggregates of ONE rule x entity
        # expansion; no pair materialization.
        pick = lambda f: F.when(  # noqa: E731
            F.col("c1u") == "?a", F.col("c1" + f)
        ).otherwise(F.col("c2" + f))
        pickb = lambda f: F.when(  # noqa: E731
            F.col("c1u") == "?a", F.col("c2" + f)
        ).otherwise(F.col("c1" + f))
        norm = s5.select(
            "rid", "p", "hside",
            pick("q2").alias("Aq2"), pick("cst").alias("Acst"),
            pick("e").alias("Ae"),
            pickb("q2").alias("Bq2"), pickb("cst").alias("Bcst"),
            pickb("e").alias("Be"),
        )
        SEx = SE.select(F.col("p").alias("_p"), F.col("pos").alias("_pos"),
                        F.col("x").alias("_x"))

        def expand(side):
            q, c, e = (f"{side}q2", f"{side}cst", f"{side}e")
            ex = norm.join(
                E.select(F.col("q2").alias(q), F.col("cst").alias(c),
                         F.col("e").alias(e), "x"),
                [q, c, e],
            )
            pos = "s" if side == "A" else "o"
            ex = ex.join(
                SEx,
                (F.col("p") == F.col("_p")) & (F.col("_pos") == pos)
                & (F.col("x") == F.col("_x")),
                "left",
            ).select(
                "rid", F.lit(side).alias("side"), "x", "Acst", "Bcst",
                # row survives the PCA restriction (only the hside-bound
                # variable is restricted)
                ((F.col("hside") != pos) | F.col("_x").isNotNull())
                .alias("inp"),
            )
            return ex

        exp = expand("A").unionByName(expand("B"))
        agg = exp.groupBy("rid").agg(
            F.sum(F.when(F.col("side") == "A", 1).otherwise(0)).alias("nA"),
            F.sum(F.when(F.col("side") == "B", 1).otherwise(0)).alias("nB"),
            F.sum(F.when((F.col("side") == "A") & F.col("inp"), 1)
                  .otherwise(0)).alias("nAp"),
            F.sum(F.when((F.col("side") == "B") & F.col("inp"), 1)
                  .otherwise(0)).alias("nBp"),
            F.max(F.when((F.col("side") == "B")
                         & (F.col("x") == F.col("Acst")), 1).otherwise(0)
                  ).alias("mAB"),
            F.max(F.when((F.col("side") == "A")
                         & (F.col("x") == F.col("Acst")), 1).otherwise(0)
                  ).alias("mAA"),
            F.max(F.when((F.col("side") == "A")
                         & (F.col("x") == F.col("Bcst")), 1).otherwise(0)
                  ).alias("mBA"),
            F.max(F.when((F.col("side") == "B")
                         & (F.col("x") == F.col("Bcst")), 1).otherwise(0)
                  ).alias("mBB"),
            F.max(F.when((F.col("side") == "B") & F.col("inp")
                         & (F.col("x") == F.col("Acst")), 1).otherwise(0)
                  ).alias("mABp"),
            F.max(F.when((F.col("side") == "A") & F.col("inp")
                         & (F.col("x") == F.col("Acst")), 1).otherwise(0)
                  ).alias("mAAp"),
            F.max(F.when((F.col("side") == "A") & F.col("inp")
                         & (F.col("x") == F.col("Bcst")), 1).otherwise(0)
                  ).alias("mBAp"),
            F.max(F.when((F.col("side") == "B") & F.col("inp")
                         & (F.col("x") == F.col("Bcst")), 1).otherwise(0)
                  ).alias("mBBp"),
        )
        dd = exp.groupBy("rid", "x").agg(
            F.countDistinct("side").alias("_ns"),
            F.min(F.when(F.col("inp"), 1).otherwise(0)).alias("_allp"),
        ).where(F.col("_ns") == 2).groupBy("rid").agg(
            F.count(F.lit(1)).alias("D"),
            F.sum("_allp").alias("Dp"),
        )
        flags = norm.select(
            "rid",
            ((F.col("Ae") == "s") & (F.col("Aq2") == F.col("p")))
            .cast("int").alias("a1"),
            ((F.col("Be") == "o") & (F.col("Bq2") == F.col("p")))
            .cast("int").alias("a2"),
            ((F.col("Aq2") == F.col("Bq2")) & (F.col("Ae") != F.col("Be")))
            .cast("int").alias("aT"),
            (F.col("Acst") != F.col("Bcst")).cast("int").alias("ne"),
        )
        z = agg.join(dd, "rid", "left").fillna(0, ["D", "Dp"]).join(
            flags, "rid"
        )

        def law(nA, nB, D, mAB, mAA, mBA, mBB):
            h1 = F.col("a1") * z[mAB] * (z[nA] - z[mAA])
            h2 = F.col("a2") * z[mBA] * (z[nB] - z[mBB])
            P = z[mBA] * z[mAB] * F.col("ne")
            a1, a2, aT = F.col("a1"), F.col("a2"), F.col("aT")
            return (
                z[nA] * z[nB] - z[D] - h1 - h2
                - aT * P + a1 * a2 * P + a1 * aT * P + a2 * aT * P
                - a1 * a2 * aT * P
            )

        s5sizes = z.select(
            "rid",
            law("nA", "nB", "D", "mAB", "mAA", "mBA", "mBB")
            .alias("body_size"),
            law("nAp", "nBp", "Dp", "mABp", "mAAp", "mBAp", "mBBp")
            .alias("pca_body_size"),
        )
    finish(R.where(F.col("shape") == "s5"), s5sizes)

    # ---- instantiated-head shapes s6-s9: mining/inst_sql.py's laws ----
    if present & set(INST_SHAPES):
        finish(R.where(F.col("shape").isin(*INST_SHAPES)),
               _inst_sql(COUNTS, t, R, injective))

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "cwa_confidence", F.col("support") / F.col("body_size")
    ).withColumn(
        "pca_confidence", F.col("support") / F.col("pca_body_size")
    )


def qpca_constants(
    rules: DataFrame, triples: DataFrame, injective: bool = False
) -> DataFrame:
    """Attach qpca_body_size + qpca_confidence to every canonical rule row
    (all 9 shapes) — RuleCounting.scala:298-380 re-expressed declaratively.

    QPCA counts the body's distinct predicted head triples but caps
    NEGATIVE examples per entity at the head predicate's
    higherCardinalitySide by that entity's remaining cardinality budget
    (avg_card - ecard, floored at 0); positives always count. The
    reference's sequential loop is order-independent, so per rule this is
    one aggregation over the predicted-binding relation:

      qpca_body_size = sum over entities of
        pos_e + max(0, neg_e - max(0, avg_card - ecard_e))

    The entity is the value at the higher-cardinality position of the
    predicted triple (for instantiated heads whose constant occupies that
    side, every prediction shares the head constant's single budget —
    incrementNegatives, RuleCounting.scala:334-355).

    Scale note: s5 materializes the per-rule entity-set product (the
    reference enumerates the same bindings); every other shape's relation
    is linear in the matching triples. Value-verified per rule against the
    executed reference in tests/test_refexec_confidences.py.
    """
    t = triples.select("s", "p", "o")
    E = _ents(t)
    side = _side(t)
    b = _b_rel(t)
    R = _parsed(_with_rid(rules)).join(F.broadcast(side), "p").localCheckpoint(
        eager=True
    )
    present = {r["shape"] for r in R.select("shape").distinct().collect()}
    outs = []

    # ---- budget inputs (shared) ----
    scard = t.groupBy("p", F.col("s").alias("ent")).agg(
        F.countDistinct("o").alias("ecard")
    ).withColumn("eside", F.lit("s"))
    ocard = t.groupBy("p", F.col("o").alias("ent")).agg(
        F.countDistinct("s").alias("ecard")
    ).withColumn("eside", F.lit("o"))
    ecards = scard.unionByName(ocard)
    avg_c = t.groupBy("p").agg(
        F.round(F.count(F.lit(1)) / F.countDistinct("s")).cast("long")
        .alias("avg_s"),
        F.round(F.count(F.lit(1)) / F.countDistinct("o")).cast("long")
        .alias("avg_o"),
    ).join(side, "p").select(
        "p",
        F.when(F.col("hside") == "s", F.col("avg_s"))
        .otherwise(F.col("avg_o")).alias("avg_card"),
    )
    known = t.withColumn("_pos", F.lit(True))

    def budget(preds):
        """preds: (rid, p, hside, s, o) distinct predicted head triples.
        Returns (rid, qpca_body_size)."""
        tagged = preds.join(known, ["s", "p", "o"], "left").withColumn(
            "_pos", F.coalesce(F.col("_pos"), F.lit(False))
        ).withColumn(
            "ent",
            F.when(F.col("hside") == "s", F.col("s")).otherwise(F.col("o")),
        ).withColumn("eside", F.col("hside"))
        per_ent = tagged.groupBy("rid", "p", "eside", "ent").agg(
            F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("pos"),
            F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("neg"),
        )
        return (
            per_ent.join(ecards, ["p", "eside", "ent"], "left")
            .withColumn("ecard", F.coalesce(F.col("ecard"), F.lit(0)))
            .join(F.broadcast(avg_c), "p")
            .withColumn(
                "counted",
                F.col("pos") + F.greatest(
                    F.lit(0),
                    F.col("neg") - F.greatest(
                        F.lit(0), F.col("avg_card") - F.col("ecard")
                    ),
                ),
            )
            .groupBy("rid")
            .agg(F.sum("counted").alias("qpca_body_size"))
        )

    def finish(shaped, sizes):
        outs.append(
            shaped.join(sizes, "rid", "left").select(
                "rid", "head", "p", "atoms", "shape", "support",
                "head_size", "head_coverage", "qpca_body_size",
            )
        )

    # ---- var-only shapes: delegate to measures.qpca_confidence (counts
    # once per combo, not per rule) ----
    if present & {"l2", "l3v2", "l3v3"}:
        from rdfrules_spark.mining.measures import qpca_confidence

        vvshaped = R.where(F.col("shape").isin("l2", "l3v2", "l3v3"))

        def _d(atom, primary):
            return F.when(atom["s"] == primary, "f").otherwise("i")

        a_atom = F.filter(
            "_vv", lambda a: (a["s"] == "?a") | (a["o"] == "?a")
        )[0]
        b_atom = F.filter(
            "_vv", lambda a: (a["s"] == "?b") | (a["o"] == "?b")
        )[0]
        comp = vvshaped.select(
            "rid", "p", "shape", "support", "head_size", "head_coverage",
            F.when(F.col("shape") == "l3v3", a_atom["q"])
            .otherwise(F.col("_vv")[0]["q"]).alias("q"),
            F.when(F.col("shape") == "l3v3", _d(a_atom, F.lit("?a")))
            .otherwise(_d(F.col("_vv")[0], F.lit("?a"))).alias("d1"),
            F.when(F.col("shape") == "l3v3", b_atom["q"])
            .when(F.col("shape") == "l3v2", F.col("_vv")[1]["q"])
            .otherwise(F.lit(None)).alias("r"),
            F.when(F.col("shape") == "l3v3", _d(b_atom, F.lit("?b")))
            .when(F.col("shape") == "l3v2", _d(F.col("_vv")[1], F.lit("?a")))
            .otherwise(F.lit(None)).alias("d2"),
        )
        sizes = qpca_confidence(
            comp.localCheckpoint(eager=True), t, injective=injective
        ).select("rid", "qpca_body_size")
        finish(vvshaped, sizes)

    # ---- s4: {VV(a,b), CAtom(a|b)} ----
    if "s4" in present:
        s4 = R.where(F.col("shape") == "s4").select(
            "rid", "p", "hside",
            *_vv_cols(F.col("_vv")[0], F.lit("?a"), "a1"),
            *_ca_cols(F.col("_inst")[0], "c1"),
        )
        j = s4.join(
            b.select(F.col("q").alias("a1q"), F.col("d").alias("a1d"),
                     F.col("x").alias("va"), F.col("y").alias("vb")),
            ["a1q", "a1d"],
        ).join(
            E.select(F.col("q2").alias("c1q2"), F.col("cst").alias("c1cst"),
                     F.col("e").alias("c1e"), F.col("x").alias("cx")),
            ["c1q2", "c1cst", "c1e"],
        ).where(
            F.col("cx") == F.when(F.col("c1u") == "?a", F.col("va"))
            .otherwise(F.col("vb"))
        )
        if injective:
            j = j.where(F.col("va") != F.col("vb"))
        preds4 = j.select(
            "rid", "p", "hside", F.col("va").alias("s"),
            F.col("vb").alias("o"),
        ).distinct()
        finish(R.where(F.col("shape") == "s4"), budget(preds4))

    # ---- s5: {CAtom(a), CAtom(b)}: entity-set product ----
    if "s5" in present:
        s5 = R.where(F.col("shape") == "s5").select(
            "rid", "p", "hside",
            *_ca_cols(F.col("_inst")[0], "c1"),
            *_ca_cols(F.col("_inst")[1], "c2"),
        )
        # c1 binds ?a, c2 binds ?b (canonical atom order pins c1 to the
        # ?a side in the miner's output); derive per-atom sides robustly
        a_is_c1 = F.col("c1u") == "?a"
        e1 = s5.join(
            E.select(F.col("q2").alias("c1q2"), F.col("cst").alias("c1cst"),
                     F.col("e").alias("c1e"), F.col("x").alias("v1")),
            ["c1q2", "c1cst", "c1e"],
        )
        e12 = e1.join(
            E.select(F.col("q2").alias("c2q2"), F.col("cst").alias("c2cst"),
                     F.col("e").alias("c2e"), F.col("x").alias("v2")),
            ["c2q2", "c2cst", "c2e"],
        )
        preds5 = e12.select(
            "rid", "p", "hside",
            F.when(a_is_c1, F.col("v1")).otherwise(F.col("v2")).alias("s"),
            F.when(a_is_c1, F.col("v2")).otherwise(F.col("v1")).alias("o"),
        )
        if injective:
            preds5 = preds5.where(F.col("s") != F.col("o"))
        finish(R.where(F.col("shape") == "s5"), budget(preds5.distinct()))

    # ---- instantiated-head shapes s6-s9: the raw binding sets of
    # mining/inst_sql.py, every row before the keep flag (s9 included) ----
    if present & set(INST_SHAPES):
        preds = _inst_sql(RAW_PREDICTIONS, t, R, injective).join(
            R.select("rid", "p", "hside"), "rid"
        )
        finish(R.where(F.col("shape").isin(*INST_SHAPES)), budget(preds))

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "qpca_confidence",
        F.when(
            F.coalesce(F.col("qpca_body_size"), F.lit(0)) == 0, F.lit(0.0)
        ).otherwise(F.col("support") / F.col("qpca_body_size")),
    )
