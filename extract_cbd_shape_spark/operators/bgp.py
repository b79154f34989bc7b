"""Basic-graph-pattern (BGP) queries over triple DataFrames.

The reference constructs per-entity subgraphs (CBD + shape extraction,
lib/CBDShapeExtractor.ts); consuming the constructed graph at corpus
scale needs the dual operation — SPARQL-style conjunctive pattern
matching. This operator covers the SELECT/BGP core as a pure
DataFrame composition:

- each triple pattern compiles to ONE filtered projection of the
  triples scan: constant positions become equality filters (pushed to
  the parquet scan as PushedFilters — a pattern with a constant
  predicate never reads other predicates' row groups when the table is
  sorted/partitioned by predicate), variable positions become column
  aliases;
- shared variables across patterns become equi-join keys; Catalyst
  reorders the joins and AQE decides broadcast vs shuffle per side at
  runtime (a selective pattern's output is typically broadcast into
  the star);
- a variable repeated WITHIN a pattern is an intra-row equality filter.

Scale notes (100 TB triples table): star patterns (shared subject
variable) are subject-key equi-joins — on a `materialize_table(
bucket_by="subject")` layout every join side is already clustered by
the key, so AQE plans shuffle-free or one-sided exchanges; path
patterns (object of one pattern = subject of the next) shuffle once
per hop, the same cost shape as the extraction engine's BFS waves.
Matching is by term VALUE: the engine's triple tables keep IRIs,
blanks, and literals in disjoint value spaces (`doc:`/`_:`/plain), so
value equality is term equality; pass ``with_kinds=True`` to join on
(value, kind) pairs when the corpus does not guarantee that.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extract_cbd_shape_spark.shapes.ast import (
    AlternativePath,
    InversePath,
    MultiPath,
    OneOrMorePath,
    Path,
    PredicatePath,
    SequencePath,
    ZeroOrMorePath,
    ZeroOrOnePath,
)

_POS = ("subject", "predicate", "object_value")
_KIND = {"subject": "subject_kind", "object_value": "object_kind"}


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


# ------------------------------------------------------------ property paths


class NegatedPropertySet(Path):
    """SPARQL negated property set ``!(p1|…|^q1|…)`` — one hop whose
    predicate is NOT in the set; forward and inverse members negate
    independently (union of the two parts, SPARQL 18.4). Query-side
    only: SHACL has no NPS, so the extraction engine never compiles
    one (its match/found hooks raise)."""

    def __init__(self, forward, inverse):
        self.forward = tuple(forward)
        self.inverse = tuple(inverse)

    def to_string(self) -> str:
        items = list(self.forward) + [f"^{p}" for p in self.inverse]
        return f"!({'|'.join(items)})"

    __repr__ = to_string

    def found(self, *a, **kw):  # pragma: no cover - query-side only
        raise NotImplementedError(
            "negated property sets are query-side only (no SHACL NPS)")


def parse_path(expr: str) -> Path:
    """Parse a compact SPARQL-property-path expression into the shared
    Path AST (shapes/ast.py — the SAME classes the extraction engine
    compiles, so BGP consumption and shape-guided construction share
    one path algebra). Grammar subset::

        alt  := seq ('|' seq)*
        seq  := step ('/' step)*
        step := '^' step | prim ('+'|'*'|'?')*
        prim := '(' alt ')' | '!' nps | PREDICATE
        nps  := PREDICATE | '^' PREDICATE
              | '(' [('^'? PREDICATE) ('|' '^'? PREDICATE)*] ')'

    PREDICATE is any run of characters outside ``/|^+*?()!`` and
    whitespace — fine for prefixed names (``kbo:activity``) — or an
    angle-bracketed IRI (``<http://…/p>``): brackets protect the inner
    text (including ``/``) and are stripped from the token. ``!``
    builds a `NegatedPropertySet` (query-side only)."""
    tokens = []
    buf = []
    i = 0
    while i < len(expr):
        ch = expr[i]
        if ch == "<":
            j = expr.find(">", i + 1)
            if j < 0:
                raise ValueError(f"unclosed '<' in path {expr!r}")
            if buf:
                tokens.append("".join(buf))
                buf = []
            tokens.append(expr[i + 1:j])
            i = j + 1
            continue
        if ch in "/|^+*?()!":
            if buf:
                tokens.append("".join(buf))
                buf = []
            tokens.append(ch)
        elif ch.isspace():
            if buf:
                tokens.append("".join(buf))
                buf = []
        else:
            buf.append(ch)
        i += 1
    if buf:
        tokens.append("".join(buf))
    pos = 0

    def peek():
        return tokens[pos] if pos < len(tokens) else None

    def take():
        nonlocal pos
        t = tokens[pos]
        pos += 1
        return t

    def alt() -> Path:
        branches = [seq()]
        while peek() == "|":
            take()
            branches.append(seq())
        return branches[0] if len(branches) == 1 else AlternativePath(branches)

    def seq() -> Path:
        steps = [step()]
        while peek() == "/":
            take()
            steps.append(step())
        return steps[0] if len(steps) == 1 else SequencePath(steps)

    def step() -> Path:
        if peek() == "^":
            take()
            return InversePath(step())
        p = prim()
        while peek() in ("+", "*", "?"):
            mod = take()
            p = {"+": OneOrMorePath, "*": ZeroOrMorePath,
                 "?": ZeroOrOnePath}[mod](p)
        return p

    def nps_item():
        inv = False
        if peek() == "^":
            take()
            inv = True
        t = peek()
        if t is None or t in "/|^+*?()!":
            raise ValueError(f"malformed negated property set in {expr!r}")
        return inv, take()

    def nps() -> Path:
        fwd, rev = [], []
        if peek() == "(":
            take()
            if peek() != ")":
                while True:
                    inv, p = nps_item()
                    (rev if inv else fwd).append(p)
                    if peek() != "|":
                        break
                    take()
            if peek() != ")":
                raise ValueError(f"unbalanced '(' in path {expr!r}")
            take()
        else:
            inv, p = nps_item()
            (rev if inv else fwd).append(p)
        return NegatedPropertySet(fwd, rev)

    def prim() -> Path:
        t = peek()
        if t == "(":
            take()
            p = alt()
            if peek() != ")":
                raise ValueError(f"unbalanced '(' in path {expr!r}")
            take()
            return p
        if t == "!":
            take()
            return nps()
        if t is None or t in "/|^+*?()!":
            raise ValueError(f"malformed path expression {expr!r}")
        return PredicatePath(take())

    out = alt()
    if pos != len(tokens):
        raise ValueError(f"trailing tokens in path expression {expr!r}")
    return out


def _graph_terms(triples: DataFrame) -> DataFrame:
    """All terms of the graph, as (node) — the SPARQL zero-length-path
    domain (every subject and object; one distinct over two narrow
    projections)."""
    return (
        triples.select(F.col("subject").alias("node"))
        .unionByName(triples.select(F.col("object_value").alias("node")))
        .distinct()
    )


def _path_pairs(triples: DataFrame, path: Path,
                src_const: Optional[str] = None,
                dst_const: Optional[str] = None) -> DataFrame:
    """Compile a Path into its solution pairs ``(_src, _dst)``.

    Bag semantics for predicate/inverse/sequence/alternative (SPARQL
    path evaluation is multiset there); DISTINCT pairs for +/*/?
    (SPARQL defines closure paths as distinct-node reachability —
    that's also what keeps the iteration finite on cycles).

    ``src_const``: when the pattern's subject is a constant, closure
    variants seed the reachability iteration from that single node
    instead of every edge source — the bound-subject fast path (the
    frontier never exceeds the reachable set). Non-closure paths
    filter afterwards; Catalyst pushes that filter into the scan.

    100 TB shape: each hop is an equi-join on the triples table's
    subject clustering; closures delegate to operators/closure.py's
    iterate-persist loop (only the frontier shuffles per round)."""
    if isinstance(path, PredicatePath):
        return triples.filter(
            F.col("predicate") == F.lit(path.predicate)
        ).select(
            F.col("subject").alias("_src"),
            F.col("object_value").alias("_dst"),
        )
    if isinstance(path, NegatedPropertySet):
        # SPARQL 18.4: forward members negate forward edges, inverse
        # members negate reversed edges; a mixed set is the union of
        # the two parts. A set with only inverse members has NO
        # forward part; an empty set (grammar-legal "!()") matches any
        # forward edge. NOT-IN is a pushed-down scan filter — one
        # corpus pass per present part, no joins.
        parts = []
        if path.forward or not path.inverse:
            fwd = triples
            if path.forward:
                fwd = fwd.filter(
                    ~F.col("predicate").isin(list(path.forward)))
            parts.append(fwd.select(
                F.col("subject").alias("_src"),
                F.col("object_value").alias("_dst"),
            ))
        if path.inverse:
            rev = triples.filter(
                ~F.col("predicate").isin(list(path.inverse)))
            parts.append(rev.select(
                F.col("object_value").alias("_src"),
                F.col("subject").alias("_dst"),
            ))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if isinstance(path, InversePath):
        # endpoint constants swap through an inverse (ADVICE r4): the
        # inner path's source is the outer destination — a nested
        # closure then keeps its constant-endpoint zero-length domain
        # (ghost:1 ^p* ?o still binds the reflexive ghost:1 solution)
        inner = _path_pairs(triples, path.path,
                            src_const=dst_const, dst_const=src_const)
        return inner.select(
            F.col("_dst").alias("_src"), F.col("_src").alias("_dst")
        )
    if isinstance(path, SequencePath):
        # src reaches the first step, dst the last (both when the
        # sequence is a single element): SPARQL evaluates a sequence
        # left-to-right from the subject, so only the edge steps see a
        # bound endpoint
        last = len(path.sequence) - 1
        cur = _path_pairs(triples, path.sequence[0], src_const=src_const,
                          dst_const=dst_const if last == 0 else None)
        for i, stp in enumerate(path.sequence[1:], start=1):
            nxt = _path_pairs(
                triples, stp,
                dst_const=dst_const if i == last else None,
            ).select(
                F.col("_src").alias("_mid"), F.col("_dst").alias("_nxt")
            )
            cur = cur.join(nxt, cur["_dst"] == F.col("_mid")).select(
                cur["_src"].alias("_src"), F.col("_nxt").alias("_dst")
            )
        return cur
    if isinstance(path, AlternativePath):
        # each branch is evaluated with the same bound endpoints
        outs = [_path_pairs(triples, b, src_const=src_const,
                            dst_const=dst_const)
                for b in path.alternatives]
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        return res
    if isinstance(path, MultiPath):
        return _closure_pairs(triples, path, src_const=src_const,
                              dst_const=dst_const)
    raise ValueError(f"unsupported path type: {type(path).__name__}")


def _closure_pairs(triples: DataFrame, path: MultiPath,
                   src_const: Optional[str] = None,
                   dst_const: Optional[str] = None) -> DataFrame:
    """+ / * / ? solution pairs via the package's transitive-closure
    operator (large-frontier BFS / pointer jumping, checkpoint per
    round — operators/closure.py:19)."""
    from extract_cbd_shape_spark.operators.closure import transitive_closure

    one = _path_pairs(triples, path.path).dropDuplicates(["_src", "_dst"])
    spark = triples.sparkSession

    def zero_domain() -> DataFrame:
        # SPARQL ALP: a CONSTANT endpoint contributes its reflexive
        # zero-length solution even when the term never occurs in the
        # graph (ghost:1 p? ?o must bind ?o = ghost:1); only when both
        # endpoints are variables does the domain fall back to the
        # graph's terms.
        consts = sorted({c for c in (src_const, dst_const)
                         if c is not None})
        if consts:
            return spark.createDataFrame(
                [(c,) for c in consts], "node string")
        return _graph_terms(triples)

    if isinstance(path, ZeroOrOnePath):
        pairs = one.unionByName(
            zero_domain().select(F.col("node").alias("_src"),
                                 F.col("node").alias("_dst"))
        )
        return pairs.dropDuplicates(["_src", "_dst"])
    # + and *: star(seed, node) = 0-or-more-hop reachability from the
    # seed set; plus = star composed with one more hop (cycles land a
    # (s, s) pair through the composition, never through the seed row).
    if src_const is not None:
        seeds = spark.createDataFrame([(src_const,)], "node string")
    else:
        seeds = one.select(F.col("_src").alias("node")).distinct()
    star = transitive_closure(
        one.select(F.col("_src").alias("src"), F.col("_dst").alias("dst")),
        seeds,
        include_seeds=True,
    )
    plus = (
        star.join(one, star["node"] == one["_src"])
        .select(star["seed"].alias("_src"), one["_dst"].alias("_dst"))
        .dropDuplicates(["_src", "_dst"])
    )
    if isinstance(path, OneOrMorePath):
        return plus
    # ZeroOrMorePath: zero-length solutions range over every graph
    # term when both endpoints are variables, and over the constant
    # endpoint(s) themselves otherwise (see zero_domain).
    return plus.unionByName(
        zero_domain().select(F.col("node").alias("_src"),
                             F.col("node").alias("_dst"))
    ).dropDuplicates(["_src", "_dst"])


def _compile_path_pattern(triples: DataFrame, pat, with_kinds: bool) -> DataFrame:
    from extract_cbd_shape_spark.model import Term

    s, path, o = pat
    if with_kinds:
        raise ValueError(
            "with_kinds is not supported for property-path patterns: "
            "closure endpoints lose kind columns; disambiguate by value "
            "space (doc:/_:/plain) as the engine's tables do"
        )
    # Term constants compare by VALUE on path endpoints (closure pairs
    # lose kind columns — the module's documented value-space contract)
    if isinstance(s, Term):
        s = s.value
    if isinstance(o, Term):
        o = o.value
    pairs = _path_pairs(
        triples, path,
        src_const=None if _is_var(s) else s,
        dst_const=None if _is_var(o) else o,
    )
    df = pairs
    cols = []
    if _is_var(s):
        if not s[1:]:
            raise ValueError(f"bare '?' in pattern {pat!r}")
        cols.append(F.col("_src").alias(s[1:]))
    else:
        df = df.filter(F.col("_src") == F.lit(s))
    if _is_var(o):
        if not o[1:]:
            raise ValueError(f"bare '?' in pattern {pat!r}")
        if o == s:
            df = df.filter(F.col("_src") == F.col("_dst"))
        else:
            cols.append(F.col("_dst").alias(o[1:]))
    else:
        df = df.filter(F.col("_dst") == F.lit(o))
    return df.select(*cols)


def _compile_pattern(triples: DataFrame, pat, with_kinds: bool,
                     literal_cols: bool = False) -> DataFrame:
    if len(pat) != 3:
        raise ValueError(f"pattern must be (s, p, o): {pat!r}")
    if isinstance(pat[1], Path):
        return _compile_path_pattern(triples, pat, with_kinds)
    from extract_cbd_shape_spark.model import Term

    df = triples
    cols = []
    seen = {}
    for pos, term in zip(_POS, pat):
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"bare '?' in pattern {pat!r}")
            if name in seen:
                df = df.filter(F.col(pos) == F.col(seen[name]))
            else:
                seen[name] = pos
                cols.append(F.col(pos).alias(name))
                if with_kinds and pos in _KIND:
                    cols.append(F.col(_KIND[pos]).alias(name + "_kind"))
                if literal_cols and pos == "object_value":
                    for suffix in ("lang", "datatype"):
                        src = f"object_{suffix}"
                        cols.append(
                            (F.col(src) if src in triples.columns
                             else F.lit(None).cast("string"))
                            .alias(f"{name}_{suffix}")
                        )
        elif isinstance(term, Term):
            # typed constant (quoted literal, explicit blank): match
            # full term identity — value + kind (when the table has a
            # kind column for this position) + null-safe lang/datatype
            # for object-position literals (lib/Utils.ts:85-92)
            df = df.filter(F.col(pos) == F.lit(term.value))
            kind_col = _KIND.get(pos)
            if kind_col and kind_col in triples.columns:
                df = df.filter(F.col(kind_col) == F.lit(term.kind))
            if pos == "object_value":
                from extract_cbd_shape_spark.model import (
                    RDF_LANGSTRING,
                    XSD_STRING,
                )

                for suffix, want in (("lang", term.lang),
                                     ("datatype", term.datatype)):
                    src = f"object_{suffix}"
                    if src not in triples.columns:
                        continue
                    if (suffix == "datatype" and term.lang is None
                            and want in (None, XSD_STRING)):
                        # RDF 1.1: a simple literal IS an xsd:string
                        # literal — both storage forms (NULL datatype
                        # from flat builders, explicit xsd:string from
                        # the TriG parser) are the same term
                        df = df.filter(
                            F.col(src).isNull()
                            | (F.col(src) == F.lit(XSD_STRING)))
                    elif (suffix == "datatype" and term.lang is not None
                            and want in (None, RDF_LANGSTRING)):
                        # RDF 1.1: a language-tagged literal's datatype
                        # IS rdf:langString (implied by the tag) — the
                        # TriG parser stores it explicitly, flat
                        # builders leave it NULL; both are the same term
                        df = df.filter(
                            F.col(src).isNull()
                            | (F.col(src) == F.lit(RDF_LANGSTRING)))
                    else:
                        df = df.filter(
                            F.col(src).eqNullSafe(
                                F.lit(want).cast("string")))
        else:
            df = df.filter(F.col(pos) == F.lit(term))
    return df.select(*cols)


def _join_solutions(left: DataFrame, right: DataFrame,
                    how: str = "inner") -> DataFrame:
    """Join two solution sets on their shared columns. Shared
    ``<var>_lang``/``<var>_datatype`` columns use NULL-SAFE equality:
    they are legitimately NULL for IRIs, blanks, and plain literals,
    and SQL's null-rejecting ``=`` would silently drop every such
    solution (two NULL langs ARE the same literal identity). Value and
    kind columns stay plain equality — an unbound (NULL) value must
    not match, which is also the documented OPTIONAL deviation."""
    common = [c for c in left.columns if c in right.columns]
    if not common:
        return left.crossJoin(right)
    nullable = [c for c in common
                if c.endswith("_lang") or c.endswith("_datatype")]
    if not nullable:
        return left.join(right, on=common, how=how)
    l, r = left.alias("_L"), right.alias("_R")
    cond = None
    for c in common:
        lc, rc = F.col(f"_L.{c}"), F.col(f"_R.{c}")
        term = lc.eqNullSafe(rc) if c in nullable else (lc == rc)
        cond = term if cond is None else (cond & term)
    j = l.join(r, cond, how)
    return j.select(
        *[F.col(f"_L.{c}").alias(c) for c in left.columns],
        *[F.col(f"_R.{c}").alias(c) for c in right.columns
          if c not in common],
    )


_AGG_RE = re.compile(
    r"^\s*(count|sum|avg|min|max|group_concat|sample)\s*\(\s*"
    r"(distinct\s+)?(\*|\?\w+)\s*\)\s*$",
    re.IGNORECASE,
)


def _compile_aggregate(name: str, spec: str):
    """One SPARQL aggregate expression -> a Spark aggregate Column
    (see bgp_match docstring for the exact semantics of each)."""
    m = _AGG_RE.match(spec)
    if not m:
        raise ValueError(f"unsupported aggregate expression: {spec!r}")
    fn, distinct, arg = m.group(1).lower(), bool(m.group(2)), m.group(3)
    if arg == "*":
        if fn != "count":
            raise ValueError(f"only count(*) takes '*': {spec!r}")
        if distinct:
            raise ValueError("count(distinct *) is not supported")
        return F.count(F.lit(1)).alias(name)
    col = F.col(arg[1:])
    if distinct and fn != "count":
        raise ValueError(f"DISTINCT only supported with count: {spec!r}")
    if fn == "count":
        return (F.countDistinct(col) if distinct
                else F.count(col)).alias(name)
    if fn == "sum":
        return F.sum(col.cast("double")).alias(name)
    if fn == "avg":
        return F.avg(col.cast("double")).alias(name)
    if fn == "min":
        return F.min(col).alias(name)
    if fn == "max":
        return F.max(col).alias(name)
    if fn == "group_concat":
        # sorted for determinism (SPARQL leaves element order open)
        return F.array_join(
            F.array_sort(F.collect_list(col)), " ").alias(name)
    # sample: SPARQL allows ANY element — the minimum is a legal,
    # deterministic choice (oracle-mirrorable)
    return F.min(col).alias(name)


def _compile_bgp(triples: DataFrame, patterns, with_kinds: bool,
                 literal_cols: bool = False) -> DataFrame:
    if not patterns:
        raise ValueError("empty basic graph pattern")
    out = None
    for pat in patterns:
        df = _compile_pattern(triples, pat, with_kinds, literal_cols)
        out = df if out is None else _join_solutions(out, df)
    return out


def bgp_match(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, str, str]],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    with_kinds: bool = False,
    optional: Optional[Sequence[Sequence[Tuple[str, str, str]]]] = None,
    filters: Optional[Sequence[str]] = None,
    literal_cols: bool = False,
    union: Optional[Sequence[Sequence[Tuple[str, str, str]]]] = None,
    values: Optional[Tuple[Sequence[str], Sequence[Sequence]]] = None,
    bind: Optional[dict] = None,
    group_by: Optional[Sequence[str]] = None,
    aggregates: Optional[dict] = None,
    having: Optional[Sequence[str]] = None,
    order_by: Optional[Sequence[str]] = None,
    limit: Optional[int] = None,
) -> DataFrame:
    """Match a conjunction of (subject, predicate, object) patterns.

    Terms starting with ``?`` are variables; anything else is a
    constant matched against the column value. Returns one column per
    variable (plus ``<var>_kind`` columns when ``with_kinds``).
    Patterns sharing no variable with the accumulated prefix are a
    cartesian product (allowed, as in SPARQL, but usually a query
    bug — keep patterns connected).

    The PREDICATE position may also be a property path — a
    ``shapes.ast.Path`` object (the same algebra the extraction engine
    compiles) or ``parse_path("a/b|^c")``-style sugar. Sequences chain
    equi-joins, alternatives union, inverses flip ends; ``+``/``*``/
    ``?`` run the package's transitive-closure loop with distinct-pair
    semantics (bound subjects seed the closure from that node alone).
    ``with_kinds`` is not supported on path patterns.

    ``optional``: SPARQL OPTIONAL groups. Each group is itself a BGP
    (a pattern list) compiled and LEFT-joined to the accumulated
    solution on its shared variables (groups apply in order, each
    seeing earlier groups' bindings); its exclusive variables are null
    where the group found no match — SPARQL's compatible-solution
    extension for well-designed patterns. A group sharing no variable
    with the solution raises (that's a cross-join OPTIONAL — reject
    loudly rather than explode). DOCUMENTED DEVIATION (ADVICE r3): the
    groups compile to sequential SQL left joins, whose join keys are
    NULL-rejecting — when a later group joins on an EARLIER group's
    optional binding (a non-well-designed pattern, pinned by
    tests/test_bgp.py), a row whose earlier binding is unbound keeps
    its NULLs here, whereas SPARQL's compatible-mapping LeftJoin would
    join that row with every right-side solution. Keep patterns
    well-designed (each optional group's shared vars bound by the
    REQUIRED part) to stay inside exact-SPARQL territory.

    ``filters``: SPARQL FILTER expressions as Spark SQL boolean strings
    over the variable columns (e.g. ``"pc < '5000'"``); applied after
    all joins, so they may reference optional bindings. SQL NULL (an
    unbound optional variable) drops the row, matching SPARQL's
    error-eliminates semantics for comparisons on unbound variables.
    Catalyst still pushes filter conjuncts below the joins whenever
    null-semantics allow — write filters declaratively, don't pre-place
    them.

    ``literal_cols``: additionally carry ``<var>_lang`` and
    ``<var>_datatype`` for variables bound in the OBJECT position (NULL
    when the triples table has no such columns) — needed by CONSTRUCT
    templates and by SELECTs that must distinguish ``"chat"@en`` from
    ``"chat"@fr``. When a variable is bound as an object in SEVERAL
    patterns the shared lang/datatype columns join too, i.e. the join
    uses FULL literal identity (value, lang, datatype) — the engine's
    term-identity rule (lib/Utils.ts:85-92) — instead of the default
    value-only match.

    ``union``: SPARQL UNION — a list of alternative groups, each itself
    a BGP. Branches compile independently and concatenate with UNION
    ALL (SPARQL's bag union; add ``distinct=True`` for set semantics);
    variables exclusive to one branch are NULL in the others (SPARQL's
    unbound). The union then joins the main ``patterns`` solution on
    shared variables (``patterns`` may be ``[]`` when the whole group
    is the union). Caveat mirroring the OPTIONAL deviation: a variable
    that is NULL in some branch is dropped by a later null-rejecting
    join on that variable.

    ``values``: SPARQL VALUES inline data — ``(["?s", ...], [row,
    ...])``. The rows become a broadcast table joined to the solution
    on the VALUES variables (SPARQL's join with the inline-data
    multiset): the plan stays one broadcast hash join, no new shuffle
    class. UNDEF (None) is not supported — it would need a
    compatible-mapping join, raise instead of silently mis-joining.

    ``bind``: SPARQL BIND — an ordered mapping of new variable name to
    a Spark SQL expression over the solution columns (later binds see
    earlier ones); applied after OPTIONAL/VALUES and before FILTER, so
    filters/aggregates/modifiers can reference bound names. Pure
    map-side projection.

    ``group_by``/``aggregates``/``having``: SPARQL aggregation.
    ``group_by`` lists grouping variables (``"?var"``); ``aggregates``
    maps output names to SPARQL aggregate expressions —
    ``count(*)``, ``count(?x)``, ``count(distinct ?x)``, ``sum(?x)``,
    ``avg(?x)``, ``min(?x)``, ``max(?x)``, ``group_concat(?x)``
    (space separator, sorted for determinism), ``sample(?x)``
    (deterministic minimum — SAMPLE allows any element). ``sum``/
    ``avg`` cast the lexical value to double (xsd numeric forms);
    ``min``/``max`` compare lexically, as the engine's value space
    does. ``aggregates`` without ``group_by`` is SPARQL's implicit
    single group; ``group_by`` without ``aggregates`` yields the
    distinct groups. ``having`` entries are Spark SQL booleans over
    the aggregate output names (SPARQL HAVING). All compile to one
    partial+final hash aggregate — map-side combine, one shuffle on
    the grouping key.

    ``order_by``/``limit``: SELECT modifiers — ``order_by`` entries are
    ``"?var"`` (ascending) or ``"-?var"`` (descending; also bare
    aggregate output names), applied with ``limit`` as one TakeOrdered
    top-k (never a full sort when a limit is given; plain ORDER BY
    without LIMIT is a real global sort, as in SPARQL).
    """
    if union:
        branches = [
            _compile_bgp(triples, g, with_kinds, literal_cols)
            for g in union
        ]
        # align branch schemas: union of all columns, absent = NULL
        # (typed from the branch that binds it — SPARQL's unbound)
        allcols: list = []
        coltype: dict = {}
        for b in branches:
            for c, t in zip(b.columns, [f.dataType.simpleString()
                                        for f in b.schema.fields]):
                if c not in coltype:
                    allcols.append(c)
                    coltype[c] = t
        aligned = [
            b.select(*[
                F.col(c) if c in b.columns
                else F.lit(None).cast(coltype[c]).alias(c)
                for c in allcols
            ])
            for b in branches
        ]
        u = aligned[0]
        for b in aligned[1:]:
            u = u.unionByName(b)
        if patterns:
            out = _compile_bgp(triples, patterns, with_kinds, literal_cols)
            out = _join_solutions(out, u)
        else:
            out = u
    else:
        out = _compile_bgp(triples, patterns, with_kinds, literal_cols)
    for group in optional or []:
        df = _compile_bgp(triples, group, with_kinds, literal_cols)
        common = [c for c in out.columns if c in df.columns]
        if not common:
            raise ValueError(
                f"OPTIONAL group shares no variable with the solution: {group!r}"
            )
        out = _join_solutions(out, df, how="left")
    if values is not None:
        vars_, rows = values
        names = [v[1:] if _is_var(v) else v for v in vars_]
        for r in rows:
            if any(x is None for x in r):
                raise ValueError(
                    "VALUES UNDEF is not supported (needs a "
                    "compatible-mapping join, not an equi-join)")
        vdf = triples.sparkSession.createDataFrame(
            [tuple(r) for r in rows],
            ", ".join(f"{n} string" for n in names))
        out = _join_solutions(out, F.broadcast(vdf))
    for name, expr in (bind or {}).items():
        out = out.withColumn(name, F.expr(expr))
    for expr in filters or []:
        out = out.filter(F.expr(expr))
    if group_by is not None or aggregates is not None:
        keys = [v[1:] if _is_var(v) else v for v in (group_by or [])]
        aggs = [_compile_aggregate(name, spec)
                for name, spec in (aggregates or {}).items()]
        if keys and not aggs:
            out = out.select(*keys).distinct()
        elif keys:
            out = out.groupBy(*keys).agg(*aggs)
        else:
            out = out.agg(*aggs)  # SPARQL's implicit single group
        for expr in having or []:
            out = out.filter(F.expr(expr))
    elif having:
        raise ValueError("having requires group_by/aggregates")
    if select is not None:
        out = out.select(*[v[1:] if _is_var(v) else v for v in select])
    if distinct:
        out = out.distinct()
    if order_by:
        cols = []
        for o in order_by:
            desc = o.startswith("-")
            name = o.lstrip("-")
            name = name[1:] if _is_var(name) else name
            cols.append(F.col(name).desc() if desc else F.col(name).asc())
        out = out.orderBy(*cols)
    if limit is not None:
        out = out.limit(limit)
    return out


# ----------------------------------------------------------------- CONSTRUCT


def _template_position(out_cols, term, position: str):
    """Column expressions (value, kind, lang, datatype) for one template
    position instantiated over the solution columns. ``term`` is a
    ``?var``, a ``model.Term``, or a bare string (IRI constant)."""
    from extract_cbd_shape_spark.model import BLANK, IRI, LITERAL, Term

    null_s = F.lit(None).cast("string")
    if isinstance(term, Term):
        if term.kind == BLANK:
            # Fresh blank node per solution (SPARQL 11.2: template
            # blanks are instantiated once per solution mapping; the
            # same label across template triples shares the instance).
            # Deterministic: md5 of (label, every solution binding) —
            # identical solution mappings collapse to one blank, which
            # is invisible in the output GRAPH (a set); retried tasks
            # re-derive the same labels, keeping writes idempotent.
            # BARE label (engine convention: blank values are stored
            # unprefixed; sinks/nquads.py prepends '_:' when
            # serializing — a baked-in prefix would serialize as the
            # grammar-invalid '_:_:c…' and break identity against
            # engine-native blanks)
            ident = F.md5(F.concat_ws(
                "\x1f", F.lit(term.value),
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in sorted(out_cols)]))
            return (F.concat(F.lit("c"), ident),
                    F.lit(BLANK).cast("tinyint"), null_s, null_s)
        return (F.lit(term.value), F.lit(term.kind).cast("tinyint"),
                F.lit(term.lang).cast("string"),
                F.lit(term.datatype).cast("string"))
    if _is_var(term):
        name = term[1:]
        if name not in out_cols:
            raise ValueError(
                f"template variable {term} is not bound by the pattern")
        kind_col = (F.col(f"{name}_kind") if f"{name}_kind" in out_cols
                    else F.when(F.col(name).startswith("_:"),
                                F.lit(BLANK).cast("tinyint"))
                         .otherwise(F.lit(IRI).cast("tinyint")))
        lang = (F.col(f"{name}_lang") if f"{name}_lang" in out_cols
                else null_s)
        dt = (F.col(f"{name}_datatype") if f"{name}_datatype" in out_cols
              else null_s)
        if position != "object":
            lang = dt = null_s
        return (F.col(name), kind_col, lang, dt)
    # bare string constant = IRI (blank constants must use Term so the
    # caller is explicit about cross-solution label sharing)
    return (F.lit(term), F.lit(IRI).cast("tinyint"), null_s, null_s)


def bgp_construct(
    triples: DataFrame,
    patterns: Sequence[Tuple[str, str, str]],
    template: Sequence[Tuple],
    optional: Optional[Sequence[Sequence[Tuple[str, str, str]]]] = None,
    filters: Optional[Sequence[str]] = None,
    with_kinds: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """SPARQL CONSTRUCT over a BGP: evaluate the WHERE patterns
    (``patterns``/``optional``/``filters`` exactly as `bgp_match`),
    then instantiate ``template`` — a list of (s, p, o) triples whose
    positions are ``?var`` bindings, bare-string IRI constants, or
    ``model.Term`` constants (typed literals, shared blank labels) —
    once per solution, and return the resulting GRAPH in the engine's
    flat quad layout (model.QUAD_COLS, default graph).

    Faithful to SPARQL 11.2 semantics:

    - a template triple whose variable is UNBOUND in a solution (an
      optional that didn't match) is silently omitted for that
      solution, not emitted with NULLs;
    - ill-formed instantiations are dropped: literal subjects,
      blank/literal predicates;
    - template blank labels yield a fresh blank node per solution,
      shared across the template's triples for that solution
      (deterministic md5 labels — see `_template_position`);
    - the result is a graph, i.e. a SET of triples: one
      ``dropDuplicates`` over the quad identity (disable with
      ``distinct=False`` only when the consumer dedups anyway, e.g. a
      default extraction; `materialize_table` writes rows as given,
      so a snapshot of a ``distinct=False`` result must not feed
      `store_distinct` extraction).

    Physical shape at 100 TB: template instantiation is a map-side
    projection of the solution join (one ``select`` per template
    triple, unioned — Catalyst shares the underlying join subplan);
    the only shuffle CONSTRUCT itself adds is the final distinct.

    ``with_kinds=True`` (default) compiles the WHERE side with kind +
    literal columns so constructed terms keep exact kinds and literal
    identity; pass False for kind-less tables (property-path WHERE
    clauses), where variable kinds fall back to the engine's value-
    space convention (``_:`` prefix = blank, else IRI — literals can
    then only come from Term constants).
    """
    from extract_cbd_shape_spark.model import BLANK, LITERAL, QUAD_COLS

    sol = bgp_match(
        triples, patterns, with_kinds=with_kinds, optional=optional,
        filters=filters, literal_cols=with_kinds,
    )
    out_cols = sol.columns
    null_s = F.lit(None).cast("string")
    parts = []
    for tpl in template:
        if len(tpl) != 3:
            raise ValueError(f"template triple must be (s, p, o): {tpl!r}")
        s, p, o = tpl
        sv, sk, _, _ = _template_position(out_cols, s, "subject")
        pv, pk, _, _ = _template_position(out_cols, p, "predicate")
        ov, ok, olang, odt = _template_position(out_cols, o, "object")
        # unbound optional vars drop the instantiation (11.2), and
        # ill-formed triples are omitted: literal subject, non-IRI
        # predicate. Filtered on the solution BEFORE projection so the
        # kind expressions still see their source columns.
        well_formed = (
            sv.isNotNull() & pv.isNotNull() & ov.isNotNull()
            & (sk != F.lit(LITERAL))
            & (pk != F.lit(LITERAL)) & (pk != F.lit(BLANK))
        )
        row = sol.filter(well_formed).select(
            sv.alias("subject"), sk.alias("subject_kind"),
            pv.alias("predicate"),
            ov.alias("object_value"), ok.alias("object_kind"),
            olang.alias("object_lang"), odt.alias("object_datatype"),
            null_s.alias("graph"),
            F.lit(None).cast("tinyint").alias("graph_kind"),
        )
        parts.append(row)
    if not parts:
        raise ValueError("empty CONSTRUCT template")
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.dropDuplicates(QUAD_COLS) if distinct else out


# ------------------------------------------------------------ ASK / DESCRIBE


def bgp_ask(triples: DataFrame, patterns, **match_kwargs) -> bool:
    """SPARQL ASK: does the pattern have at least one solution?
    Compiles the same plan as `bgp_match` capped at one row — with AQE
    the probe stops at the first matching partition, never a full
    evaluation."""
    return not bgp_match(triples, patterns, **match_kwargs).limit(1).isEmpty()


def bgp_describe(
    triples: DataFrame,
    patterns,
    var: str,
    shapes_graph=None,
    shape=None,
    extractor=None,
    **match_kwargs,
) -> DataFrame:
    """SPARQL DESCRIBE ``?var`` WHERE { patterns }: the description of
    each distinct binding, computed by THE EXTRACTION ENGINE — CBD
    star + blank closure + named-graph pickup (+ full SHACL shape
    guidance when ``shapes_graph``/``shape`` are given). DESCRIBE's
    result form is implementation-defined (SPARQL 16.4); Concise
    Bounded Descriptions are the canonical choice and exactly what
    this package's construction side computes, so the query surface
    and the extraction engine meet here: one `bulkExtract`-style job
    over the solution bindings.

    Returns the extractor's result layout (``member_id``, quad
    columns, ``entity``/``entity_kind``/...), one description per
    distinct non-literal binding (literals have no description —
    dropped, as rdf-library DESCRIBE implementations do). Pass an
    ``extractor`` to control its caches/knobs — call ``release()``
    after fully consuming the result. With ``extractor=None`` one is
    built over the triples' session and its (store-sized) cache stays
    resident until the session ends: long-lived drivers issuing many
    DESCRIBEs should pass and release their own.

    Patterns must bind ``var`` with kind columns available — property
    paths in the predicate position lose kinds (module convention), so
    a path-only binding raises: also bind the variable in one plain
    pattern.
    """
    from extract_cbd_shape_spark.model import LITERAL
    from extract_cbd_shape_spark.operators.extract import (
        BulkCBDShapeExtractor,
    )

    if not _is_var(var):
        raise ValueError(f"DESCRIBE target must be a ?variable: {var!r}")
    name = var[1:]
    sol = bgp_match(triples, patterns, with_kinds=True, **match_kwargs)
    if f"{name}_kind" not in sol.columns:
        raise ValueError(
            f"DESCRIBE {var}: the pattern binds it without a kind column "
            "(property-path binding?) — bind it in a plain pattern too")
    seeds = (
        sol.select(F.col(name).alias("entity"),
                   F.col(f"{name}_kind").alias("entity_kind"))
        .filter(F.col("entity_kind") != LITERAL)
        .distinct()
    )
    ex = extractor or BulkCBDShapeExtractor(
        triples.sparkSession, shapes_graph=shapes_graph)
    results, _ = ex.extract(triples, seeds, shape=shape)
    return results
