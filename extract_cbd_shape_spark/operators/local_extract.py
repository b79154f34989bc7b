"""Store-local extraction fast path (applyInPandas per store).

When every member's relevant quads live inside one store slice — an
LDES page, a crawled document, a named-graph bundle — which is the
reference's own operating regime (``bulkExtract`` runs over ONE page
store, lib/CBDShapeExtractor.ts:68-127), a global frontier fixpoint is
overkill: the whole extraction for a store fits in one executor task.

This module shuffles quads ONCE by a caller-supplied ``store_key``,
cogroups the member seeds by the same key, and runs the complete
CBD + shape-guided algorithm per store inside an Arrow-batched
``applyInPandas``. Semantics are identical to ``operators/extract.py``
(the same golden fixtures and DuckDB oracles run against both engines);
only the physical strategy differs — the same kind of choice Spark
makes between a broadcast and a shuffle join, made here at the
granularity of the whole algorithm:

* global engine (extract.py): arbitrary cross-store graphs, giant
  stores, shared dimension entities -> driver-coordinated DataFrame
  fixpoints;
* local engine (this file): store-partitioned corpora -> one shuffle +
  embarrassingly parallel per-store Python, no driver rounds, no
  global state. At 10^12 documents this is the throughput path; a
  skewed giant store falls back to the global engine.

The per-store algorithm mirrors the reference's recursive lifecycle
(extract -> extractRecursively -> CBD / path match / nodeLink,
lib/CBDShapeExtractor.ts:305-508) re-derived from SURVEY.md §3 — the
trie is the same reduced-word set used by the bulk engine
(shapes/ast.py), so found() gating and required-path validation are
shared code, not a re-implementation.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Sequence, Set, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extract_cbd_shape_spark.model import BLANK, IRI, LITERAL, Term
from extract_cbd_shape_spark.shapes.ast import (
    ROOT_WORD,
    AlternativePath,
    InversePath,
    MultiPath,
    Path,
    PredicatePath,
    SequencePath,
    extend_word,
)
from extract_cbd_shape_spark.shapes.compiler import ShapesGraph

# Quad tuple layout inside a store (matches model.QUAD_COLS order).
_S, _SK, _P, _OV, _OK, _OL, _OD, _G, _GK = range(9)

RESULT_SCHEMA = (
    "entity string, subject string, subject_kind tinyint, predicate string, "
    "object_value string, object_kind tinyint, object_lang string, "
    "object_datatype string, graph string, graph_kind tinyint"
)

_RESULT_TYPES = dict(
    f.strip().rsplit(" ", 1) for f in RESULT_SCHEMA.split(", ")
)


def _projected_schema(columns: Sequence[str]) -> str:
    """DDL for a subset of the result columns (operator-level projection
    pushdown: Catalyst can't prune through mapInPandas, so the caller's
    projection is pushed into the kernel's output schema — narrower
    Arrow batches cross the Python/JVM boundary)."""
    bad = [c for c in columns if c not in _RESULT_TYPES]
    if bad:
        raise ValueError(f"unknown result columns: {bad}")
    return ", ".join(f"{c} {_RESULT_TYPES[c]}" for c in columns)


class _Store:
    """In-memory quad store for ONE store slice, indexed the three ways
    the algorithm looks things up (SPOG / POSG / GSPO of SURVEY §1.2)."""

    def __init__(self, quads: List[tuple]):
        self.quads = quads
        self.by_subject: Dict[tuple, List[tuple]] = {}
        self.by_object: Dict[tuple, List[tuple]] = {}
        self.by_graph: Dict[tuple, List[tuple]] = {}
        for q in quads:
            self.by_subject.setdefault((q[_SK], q[_S]), []).append(q)
            if q[_OK] != LITERAL:
                self.by_object.setdefault((q[_OK], q[_OV]), []).append(q)
            if q[_G] is not None:
                self.by_graph.setdefault((q[_GK], q[_G]), []).append(q)


class _MemberRun:
    """One member's extraction over a _Store (reference ExtractInstance,
    lib/CBDShapeExtractor.ts:173-341)."""

    def __init__(self, store: _Store, shapes: Optional[ShapesGraph],
                 entity: tuple, member_graphs: Set[tuple],
                 graphs_to_ignore: Set[tuple], cbd_default_graph: bool):
        self.store = store
        self.shapes = shapes
        self.entity = entity  # (kind, value)
        self.member_graphs = member_graphs
        self.graphs_to_ignore = graphs_to_ignore
        self.cbd_default_graph = cbd_default_graph
        self.result: Set[tuple] = set()
        self.words: Set[str] = {ROOT_WORD}
        self.visited_cbd: Set[tuple] = set()
        self.visited_shape: Set[tuple] = set()
        self.missing: List[tuple] = []  # (node_value, shape_key, error)

    # -- graph filter (lib/Path.ts:66, lib/CBDShapeExtractor.ts:95-99) --

    def _graph_ok(self, q: tuple) -> bool:
        if q[_G] is None:
            return True
        g = (q[_GK], q[_G])
        if g in self.graphs_to_ignore:
            return False
        if g in self.member_graphs and g != self.entity:
            return False  # bulk isolation: other members' named graphs
        return True

    # ----------------- CBD (lib/CBDShapeExtractor.ts:472-508) -----------------

    def cbd(self, node: tuple, pos: str) -> None:
        # Explicit iterator stack (recursion-eliminated but identical
        # pre-order + visited marks): a blank-node chain deeper than
        # CPython's frame limit must not kill the executor.
        if node in self.visited_cbd:
            return
        self.visited_cbd.add(node)
        stack = [(pos, iter(self.store.by_subject.get(node, ())))]
        while stack:
            pos, it = stack[-1]
            descended = False
            for q in it:
                if self.cbd_default_graph and q[_G] is not None:
                    continue
                if not self._graph_ok(q):
                    continue
                self.result.add(q)
                word = extend_word(pos, q[_P], False)
                self.words.add(word)
                if q[_OK] == BLANK:
                    child = (BLANK, q[_OV])
                    if child not in self.visited_cbd:
                        self.visited_cbd.add(child)
                        stack.append(
                            (word, iter(self.store.by_subject.get(child, ())))
                        )
                        descended = True
                        break
            if not descended:
                stack.pop()

    # -------------- path matching (lib/Path.ts match methods) --------------

    def match(self, path: Path, focus: List[Tuple[tuple, str]],
              inverse: bool = False,
              collect: Optional[Set[tuple]] = None) -> List[Tuple[tuple, str]]:
        """Returns new (node4, pos) targets; witness quads land in
        ``collect`` when given (the paths loop passes self.result; the
        nodeLink fallback passes None, lib/CBDShapeExtractor.ts:421-428).
        node4 = (kind, value, lang, datatype)."""
        if isinstance(path, PredicatePath):
            out = []
            for node, pos in focus:
                if not inverse:
                    if node[0] == LITERAL:
                        continue
                    for q in self.store.by_subject.get((node[0], node[1]), ()):
                        if q[_P] != path.predicate or not self._graph_ok(q):
                            continue
                        word = extend_word(pos, q[_P], False)
                        self.words.add(word)
                        if collect is not None:
                            collect.add(q)
                        out.append(((q[_OK], q[_OV], q[_OL], q[_OD]), word))
                else:
                    if node[0] == LITERAL:
                        # literal focus: inverse hop looks up by full
                        # literal identity (value, lang, datatype)
                        cands = [
                            q for q in self.store.quads
                            if q[_OK] == LITERAL and q[_OV] == node[1]
                            and q[_OL] == node[2] and q[_OD] == node[3]
                        ]
                    else:
                        cands = self.store.by_object.get((node[0], node[1]), ())
                    for q in cands:
                        if q[_P] != path.predicate or not self._graph_ok(q):
                            continue
                        word = extend_word(pos, q[_P], True)
                        self.words.add(word)
                        if collect is not None:
                            collect.add(q)
                        out.append(((q[_SK], q[_S], None, None), word))
            return out
        if isinstance(path, SequencePath):
            cur = focus
            for step in path.sequence:
                cur = self.match(step, cur, inverse, collect)
            return cur
        if isinstance(path, AlternativePath):
            out = []
            for branch in path.alternatives:
                out.extend(self.match(branch, focus, inverse, collect))
            return out
        if isinstance(path, InversePath):
            return self.match(path.path, focus, not inverse, collect)
        if isinstance(path, MultiPath):
            return self._match_multi(path, focus, inverse, collect)
        raise TypeError(f"unknown path type {type(path)}")

    def _match_multi(self, path: MultiPath, focus, inverse, collect):
        """BFS with admit-but-don't-expand for re-reached targets
        (lib/Path.ts:212-287)."""
        out: List[Tuple[tuple, str]] = []
        for root, pos in focus:
            root4 = root if len(root) == 4 else (root[0], root[1], None, None)
            visited = {root4}
            targets = [(root4, pos)]
            i = 0
            while targets:
                if path.admits(i):
                    out.extend(targets)
                if path.max_count is not None and i >= path.max_count:
                    break
                expanded = self.match(path.path, targets, inverse, collect)
                fresh = []
                for node4, w in expanded:
                    if node4 in visited:
                        if path.admits(i + 1):
                            out.append((node4, w))
                        continue
                    visited.add(node4)
                    fresh.append((node4, w))
                targets = fresh
                i += 1
        return out

    # ------- recursive shape extraction (lib/CBDShapeExtractor.ts:374-462) -------

    def extract_recursively(self, node: tuple, shape_id: Optional[Term],
                            pos: str) -> None:
        """Trampoline over ``_extract_gen``: exact DFS order of the
        natural recursion (each generator frame yields its nodeLink
        targets in sequence) without CPython stack frames, so a
        nodeLink chain deeper than the ~1000-frame recursion limit —
        e.g. list-shaped data under a self-referential shape — runs in
        the executor instead of raising RecursionError."""
        stack = [self._extract_gen(node, shape_id, pos)]
        while stack:
            try:
                child = next(stack[-1])
            except StopIteration:
                stack.pop()
            else:
                stack.append(self._extract_gen(*child))

    def _extract_gen(self, node: tuple, shape_id: Optional[Term],
                     pos: str):
        node4 = node if len(node) == 4 else (node[0], node[1], None, None)
        if node4[0] != LITERAL:
            memo = (node4[0], node4[1])
            if memo in self.visited_shape:
                return
            self.visited_shape.add(memo)
        shape = self.shapes.get(shape_id) if (
            self.shapes is not None and shape_id is not None) else None
        if shape is None or not shape.closed:
            if node4[0] != LITERAL:
                self.cbd((node4[0], node4[1]), pos)
        if shape is None:
            return

        focus = [(node4, pos)]
        matched: Dict[int, List[Tuple[tuple, str]]] = {}
        gated: Set[int] = set()
        for p in shape.match_paths():
            if not shape.closed and p.found(frozenset(self.words), pos) is not None:
                gated.add(id(p))
                continue
            matched[id(p)] = self.match(p, focus, collect=self.result)
        for nl in shape.all_node_links():
            pid = id(nl.path_pattern)
            if pid in matched:
                targets = matched[pid]
            else:
                # gated or link-only path: match for targets, but the
                # witness quads are NOT added (lib/CBDShapeExtractor.ts:421-428)
                targets = self.match(nl.path_pattern, focus, collect=None)
            for tgt4, tpos in targets:
                yield (tgt4, nl.link, tpos)

        if node4[0] == IRI:
            err = shape.required_are_not_present(frozenset(self.words), pos)
            if err is not None:
                self.missing.append(
                    (node4[1], f"{shape_id.kind}:{shape_id.value}",
                     err.to_string())
                )

    def run(self, shape_id: Optional[Term]) -> Set[tuple]:
        self.extract_recursively(self.entity, shape_id, ROOT_WORD)
        # named-graph member pickup — no graph filters
        # (lib/CBDShapeExtractor.ts:317-324)
        for q in self.store.by_graph.get(self.entity, ()):
            self.result.add(q)
        return self.result


def extract_store(quads: List[tuple], members: Sequence[Tuple[int, str]],
                  shapes: Optional[ShapesGraph], shape_id: Optional[Term],
                  bulk: bool = True,
                  graphs_to_ignore: Sequence[tuple] = (),
                  cbd_default_graph: bool = False) -> Iterable[tuple]:
    """Extract every member of one store; yields (entity_value, *quad)."""
    store = _Store(quads)
    member_graphs = {m for m in members if m[0] == IRI} if bulk else set()
    for m in members:
        run = _MemberRun(store, shapes, m, member_graphs,
                         set(graphs_to_ignore), cbd_default_graph)
        for q in sorted(run.run(shape_id), key=str):
            yield (m[1],) + q


# ---------------------------------------------------------------------------
# Vectorized bucket kernel
# ---------------------------------------------------------------------------
#
# For the common web-corpus regime — non-closed shapes whose match paths
# and nodeLink patterns are all single-hop forward PredicatePaths (the
# reference's KBO perf shapes, perf/resources/shacl-kbo.ttl, and typical
# crawl shapes) — the per-member recursive algorithm above collapses to
# set algebra that pandas can run over the WHOLE bucket at once:
#
# * the paths loop is a provable no-op for result quads: for a non-closed
#   shape CBD has already emitted the focus star, and a single forward
#   hop's witnesses are a subset of that star whether or not found()
#   gates it (gating only ever skips already-present quads);
# * nodeLink targets are one (frontier x store) merge per round, shared
#   across all members — reference reuse-vs-refetch of targets
#   (lib/CBDShapeExtractor.ts:419-428) yields identical target sets;
# * CBD + blank closure is an iterative merge with a visited anti-join.
#
# r3 extensions widen the class to (a) forward sequence/alternative
# chains (chained CSR gathers), (b) INVERSE hops anywhere in a chain —
# served by a second CSR sorted on object codes, the in-bucket analogue
# of the reference's POSG index ordering (lib/Utils.ts:10-23) — and
# (c) CLOSED shapes, which skip CBD and never found()-gate
# (lib/CBDShapeExtractor.ts:389-391,408), so unconditional per-wave
# matching is EXACT reference semantics for them, and (d) MULTIPATHS
# (zeroOrMore / oneOrMore / zeroOrOne): a multi-source BFS with a
# per-(member, node) visited set computes the same witness/target
# UNIONS as the interpreter's per-root visited admit-but-don't-expand
# loop (results are sets); on open shapes a whole-path ``*``/``?``
# match is ALWAYS found()-gated (found is always truthy) and so emits
# nothing, while ``+`` gates per focus by one-application blank-route
# detection. Open-shape paths that EMBED a multipath in a longer
# sequence (fold-dependent gate semantics) keep the per-member
# interpreter.


_MAX_CHAINS = 32  # per-path branch-explosion cap for the flattener


def _flatten_chain(path: Path, inv: bool = False
                   ) -> Optional[List[Tuple[Tuple[str, bool], ...]]]:
    """Flatten a Sequence/Alternative/Predicate/Inverse path into hop
    chains of ``(predicate, inverse)``: ``a`` -> [((a,F),)]; ``a/b`` ->
    [((a,F),(b,F))]; ``(a|b)/c`` -> two chains; ``^a`` -> [((a,T),)].
    Inverse distributes exactly as the interpreter's ``match`` does
    (lib/Path.ts:195-209 flips the flag; SequencePath folds its steps
    in ORIGINAL order with the flag passed down, lib/Path.ts:104-138),
    so double inverse cancels. Returns None for multipaths or when the
    branch product exceeds ``_MAX_CHAINS``."""
    if isinstance(path, PredicatePath):
        return [((path.predicate, inv),)]
    if isinstance(path, InversePath):
        return _flatten_chain(path.path, not inv)
    if isinstance(path, SequencePath):
        chains: List[Tuple[Tuple[str, bool], ...]] = [()]
        for step in path.sequence:
            sub = _flatten_chain(step, inv)
            if sub is None:
                return None
            chains = [c + s for c in chains for s in sub]
            if len(chains) > _MAX_CHAINS:
                return None
        return chains
    if isinstance(path, AlternativePath):
        out: List[Tuple[Tuple[str, bool], ...]] = []
        for branch in path.alternatives:
            sub = _flatten_chain(branch, inv)
            if sub is None:
                return None
            out.extend(sub)
            if len(out) > _MAX_CHAINS:
                return None
        return out
    return None  # MultiPath: per-root visited/admit state


# A segment is ("chain", hops) with hops = ((pred, inverse), ...) or
# ("multi", kind, inner_chains, max_count) with kind in "*+?" and
# inner_chains a list of hop tuples (the multipath's inner path,
# pre-flattened — nested multipaths are not segmentable).
_MULTI_KINDS = {"ZeroOrMorePath": "*", "OneOrMorePath": "+",
                "ZeroOrOnePath": "?"}


def _flatten_segments(path: Path, inv: bool = False):
    """Flatten a path CONTAINING multipaths into variants of segment
    lists: ``(p1 q*)`` -> one variant ``[chain(p1), multi(*, [q])]``;
    an alternative forks variants. Adjacent chain segments merge.
    ``inv`` distributes into multipath inner chains exactly as the
    interpreter does (``_match_multi`` passes ``inverse`` down to the
    inner ``match``, mirroring lib/Path.ts:212-287). Returns None for
    nested multipaths or branch explosion past ``_MAX_CHAINS``."""
    if isinstance(path, MultiPath):
        inner = _flatten_chain(path.path, inv)
        if inner is None:
            return None
        kind = _MULTI_KINDS[type(path).__name__]
        return [[("multi", kind, inner, path.max_count)]]
    if isinstance(path, InversePath):
        return _flatten_segments(path.path, not inv)
    if isinstance(path, SequencePath):
        variants = [[]]
        for step in path.sequence:
            sub = _flatten_chain(step, inv)
            if sub is not None:
                subv = [[("chain", ch)] for ch in sub]
            else:
                subv = _flatten_segments(step, inv)
                if subv is None:
                    return None
            variants = [v + s for v in variants for s in subv]
            if len(variants) > _MAX_CHAINS:
                return None
        out = []
        for v in variants:
            merged: list = []
            for seg in v:
                if (seg[0] == "chain" and merged
                        and merged[-1][0] == "chain"):
                    merged[-1] = ("chain", merged[-1][1] + seg[1])
                else:
                    merged.append(seg)
            out.append(merged)
        return out
    if isinstance(path, AlternativePath):
        out = []
        for branch in path.alternatives:
            sub = _flatten_chain(branch, inv)
            if sub is not None:
                out.extend([("chain", ch)] for ch in sub)
            else:
                subv = _flatten_segments(branch, inv)
                if subv is None:
                    return None
                out.extend(subv)
            if len(out) > _MAX_CHAINS:
                return None
        return out
    ch = _flatten_chain(path, inv)
    return None if ch is None else [[("chain", c)] for c in ch]


def _variant_edge_hops(variant, front: bool):
    """The set of possible FIRST (``front``) or LAST hops of a segment
    variant, plus a passthrough flag: True when the whole variant can
    realize ZERO hops (every segment a ``*``/``?`` multi), in which
    case an arrival/first hop comes from outside the variant."""
    hops: set = set()
    segs = variant if front else list(reversed(variant))
    for seg in segs:
        if seg[0] == "chain":
            if seg[1]:
                hops.add(seg[1][0] if front else seg[1][-1])
                return hops, False
            continue  # empty chain: transparent
        _, kind, inner, _mc = seg
        for ch in inner:
            if ch:
                hops.add(ch[0] if front else ch[-1])
        if kind == "+":
            return hops, False
        # '*' / '?': zero applications possible -> keep walking
    return hops, True


def _variant_adjacent_pairs(variant):
    """All ordered hop pairs that can be ADJACENT in some realization
    of the variant (conservative superset): within-chain neighbours,
    within-inner-chain neighbours, inner-application wrap-around pairs
    (a multipath repeats its inner chain), and cross-boundary pairs
    between every segment and the nearest non-transparent material on
    each side (``*``/``?`` segments are transparent at zero
    applications)."""
    pairs: set = set()
    # within-segment pairs
    for seg in variant:
        if seg[0] == "chain":
            pairs.update(zip(seg[1], seg[1][1:]))
        else:
            _, kind, inner, _mc = seg
            for ch in inner:
                pairs.update(zip(ch, ch[1:]))
            if kind in ("*", "+"):  # applications repeat -> wrap pairs
                lasts = {ch[-1] for ch in inner if ch}
                firsts = {ch[0] for ch in inner if ch}
                pairs.update((a, b) for a in lasts for b in firsts)
    # cross-boundary pairs, with transparency across zero-admitting segs
    for i in range(len(variant)):
        left_last, _ = _variant_edge_hops(variant[: i + 1], front=False)
        right_first, _ = _variant_edge_hops(variant[i + 1:], front=True)
        pairs.update((a, b) for a in left_last for b in right_first)
    return pairs


def compile_single_hop_links(shapes_graph: Optional[ShapesGraph],
                             shape: Optional[Term],
                             cbd_default_graph: bool = False):
    """Driver-side vectorizability gate.

    Returns ``(links, multi_match, multi_link, root_key, closed_keys,
    mp_match, mp_link)`` when every shape reachable from ``shape``
    through nodeLinks uses chain paths (predicates, sequences,
    alternatives, inverses) or segmentable multipaths (see below);
    ``None`` otherwise. ``links`` rows are
    ``(shape_key, predicate, child_shape_key, link_order)`` — the
    single-hop FORWARD recursion structure; ``multi_match`` rows are
    ``(shape_key, chain)`` for match-path chains the kernel must emit
    witnesses for — chains with >1 hop (hops beyond the first are NOT
    in the focus star, lib/Path.ts:104-138 concatenates all stage
    witnesses), chains containing an INVERSE hop (an incoming quad is
    never in the focus star), and every chain of a CLOSED shape (no CBD
    star covers any of it); ``multi_link`` rows are ``(shape_key,
    chain, child_shape_key, link_order)`` for non-single-hop-forward
    nodeLink patterns (targets only, no witnesses —
    lib/CBDShapeExtractor.ts:421-428); ``closed_keys`` is the set of
    closed shape keys (no CBD at their focus nodes,
    lib/CBDShapeExtractor.ts:389-391). Chain hops are ``(predicate,
    inverse)`` pairs; inverse hops read the kernel's object-sorted CSR
    (the reference's POSG ordering, lib/Utils.ts:10-23).

    Match-path found() gating (lib/CBDShapeExtractor.ts:404-417) is
    reproduced as follows: single-hop forward chains need no gate
    (their witnesses are a subset of the focus star either way);
    all-forward multi-hop chains are gated per (member, focus) by
    blank-route detection in the kernel (``blank_gated`` — from a fresh
    focus, CBD words are exactly the blank-descent routes); REDUCING
    chains (a hop canceling the previous step or the arrival step —
    the other way a walk can land on witnessed words) are rejected to
    the per-member interpreter below; non-reducing inverse/mixed chains
    cannot be witnessed by CBD words at all. Closed shapes never gate
    (lib/CBDShapeExtractor.ts:408), so for them unconditional matching
    is EXACT interpreter/reference semantics. Remaining documented
    divergence classes (the bulk-engine contract, pinned by tests):
    several focus nodes sharing one trie position (the reference's
    member-global word set lets one focus's match gate another's),
    cross-path word witnessing between identical chain prefixes, and
    multi-parent blanks (the reference's word claim is traversal-order
    dependent; the kernel gate claims any-route).

    ``cbd_default_graph`` + match paths on a NON-closed shape is
    rejected: the kernel emits single-hop forward witnesses only
    through its (default-graph-restricted) CBD, but the reference
    restricts ONLY CBD — path-match witnesses in named graphs must
    still be collected (lib/CBDShapeExtractor.ts:479 narrows the star
    lookup, not Path.match). The interpreter's order-dependent found()
    gating of those witnesses can't be reproduced by unconditional bulk
    emission, so this combination stays on the per-member interpreter
    (ADVICE r2, high). Closed shapes are unaffected: they run no CBD
    and never gate, so their match emission is exact under any
    ``cbd_default_graph``.

    MULTIPATHS (``*``/``+``/``?``, lib/Path.ts:212-287) vectorize as
    segment variants (``_flatten_segments``): ``mp_match`` rows are
    ``(shape_key, variant, gated)``, ``mp_link`` rows are
    ``(shape_key, variant, child_shape_key, link_order)``. Coverage:
    CLOSED-shape match paths may embed multipaths anywhere (no gates —
    exact); OPEN-shape match paths take a multipath only as the WHOLE
    path, where ``*``/``?`` are ALWAYS found()-gated (ZeroOrMore/
    ZeroOrOne.found is always truthy, lib/Path.ts:346-371) and hence
    DROPPED (emitting nothing is exact), and ``+`` is gated per focus
    by one-application blank-route detection (OneOrMorePath.found,
    lib/Path.ts:321-333); nodeLink paths may embed multipaths on any
    shape (targets are never gated). Kernel execution is a
    multi-source BFS whose member-level visited set computes the same
    witness/target UNIONS as the interpreter's per-root admit-but-
    don't-expand loop. The literal-focus and reducing-chain rejections
    extend to variants via their possible first/last hop sets, with
    zero-admitting variants passing the parent's own focus (and its
    arrival steps) through to the child (fixpoints below).
    """
    if shape is None or shapes_graph is None:
        return [], [], [], None, frozenset(), [], []
    links: List[tuple] = []
    multi_match: List[tuple] = []
    multi_link: List[tuple] = []
    mp_match: List[tuple] = []  # (shape_key, variant, gated)
    mp_link: List[tuple] = []   # (shape_key, variant, child, order)
    closed_keys: Set[str] = set()
    seen: Set[str] = set()
    stack = [shape]
    while stack:
        sid = stack.pop()
        key = f"{sid.kind}:{sid.value}"
        if key in seen:
            continue
        seen.add(key)
        tpl = shapes_graph.get(sid)
        if tpl is None:
            continue  # unresolved link -> plain CBD at the target
        if tpl.closed:
            closed_keys.add(key)
        for p in tpl.match_paths():
            if cbd_default_graph and not tpl.closed:
                return None
            chains = _flatten_chain(p)
            if chains is None:
                # Multipath match paths (lib/Path.ts:212-287). CLOSED
                # shapes never found()-gate, so arbitrary segment
                # variants emit exactly. OPEN shapes: a whole-path
                # ``*``/``?`` is ALWAYS gated (ZeroOrMore/ZeroOrOne
                # .found is always truthy, lib/Path.ts:346-371) ->
                # dropped, emitting nothing — exact; a whole-path
                # ``+`` gates iff ONE inner application is witnessed
                # (lib/Path.ts:321-333) -> blank-route gate per focus.
                # Multipaths embedded in longer open-shape paths have
                # fold-dependent gate semantics -> interpreter.
                variants = _flatten_segments(p)
                if variants is None:
                    return None
                for v in variants:
                    if tpl.closed:
                        mp_match.append((key, tuple(v), False))
                    elif (len(variants) == 1 and len(v) == 1
                          and v[0][0] == "multi"):
                        if v[0][1] == "+":
                            mp_match.append((key, tuple(v), True))
                        # '*' / '?': always gated -> drop
                    else:
                        return None
                continue
            for ch in chains:
                if len(ch) > 1 or ch[0][1] or tpl.closed:
                    multi_match.append((key, ch))
        for order, nl in enumerate(tpl.all_node_links()):
            chains = _flatten_chain(nl.path_pattern)
            child = f"{nl.link.kind}:{nl.link.value}"
            if chains is None:
                # Multipath nodeLinks: targets only, never gated
                # (lib/CBDShapeExtractor.ts:421-428) — admitted targets
                # of zero-admitting kinds include the ORIGIN focus.
                variants = _flatten_segments(nl.path_pattern)
                if variants is None:
                    return None
                for v in variants:
                    mp_link.append((key, tuple(v), child, order))
                stack.append(nl.link)
                continue
            for ch in chains:
                if len(ch) == 1 and not ch[0][1]:
                    links.append((key, ch[0][0], child, order))
                else:
                    multi_link.append((key, ch, child, order))
            stack.append(nl.link)
    # Literal-focus caveat: the kernel drops LITERAL wave nodes (a
    # literal focus cannot CBD or match forward, so for forward plans
    # the drop is exact), but the interpreter can still match an
    # inverse-FIRST chain from a literal focus (full-identity object
    # lookup). That combination needs a shape that (a) is the target of
    # a nodeLink whose last hop is forward (only forward hops can land
    # on literals) and (b) owns a chain whose first hop is inverse —
    # reject it conservatively to the per-member interpreter.
    fwd_children = {l[2] for l in links} | {
        child for _, ch, child, _ in multi_link if not ch[-1][1]}
    inv_first = {k for k, ch in multi_match if ch[0][1]} | {
        k for k, ch, _, _ in multi_link if ch[0][1]}
    # multipath variants: a child is forward-reachable when any
    # possible LAST hop of the link variant is forward; zero-admitting
    # variants additionally pass the parent's OWN focus through, so the
    # child inherits the parent's forward-reachability (fixpoint below).
    passthrough_links: List[Tuple[str, str]] = []
    for k_, v_, child_, _o in mp_link:
        lasts, zero_ok = _variant_edge_hops(list(v_), front=False)
        if any(not h[1] for h in lasts):
            fwd_children.add(child_)
        if zero_ok:
            passthrough_links.append((k_, child_))
    for entries, is_link in ((mp_match, False), (mp_link, True)):
        for row in entries:
            firsts, _zero = _variant_edge_hops(list(row[1]), front=True)
            if any(h[1] for h in firsts):
                inv_first.add(row[0])
    changed = True
    while changed:
        changed = False
        for k_, child_ in passthrough_links:
            if k_ in fwd_children and child_ not in fwd_children:
                fwd_children.add(child_)
                changed = True
    if fwd_children & inv_first:
        return None
    # REDUCING chains are rejected: a hop that cancels the previous step
    # (or the arrival step of the shape's trie position) walks the
    # found() probe back onto an already-witnessed word — e.g. (p ^p)
    # from the root reduces to ROOT, which is always witnessed, so the
    # reference SKIPS the match and collects no witnesses
    # (lib/Path.ts:90-98 via the trie's pop, lib/CBDShapeExtractor.ts:
    # 241-269). Unconditional bulk matching would emit them. The
    # per-member interpreter keeps these exotic shapes exact.
    incoming_last: Dict[str, Set[tuple]] = {}
    for k_, pred_, child_, _o in links:
        incoming_last.setdefault(child_, set()).add((pred_, False))
    for k_, ch_, child_, _o in multi_link:
        incoming_last.setdefault(child_, set()).add(ch_[-1])
    for k_, v_, child_, _o in mp_link:
        lasts, _zero = _variant_edge_hops(list(v_), front=False)
        incoming_last.setdefault(child_, set()).update(lasts)
    # zero-admitting link variants place the child at the PARENT's own
    # focus, so the child also inherits the parent's arrival steps
    changed = True
    while changed:
        changed = False
        for k_, child_ in passthrough_links:
            inc = incoming_last.setdefault(child_, set())
            parent_inc = incoming_last.get(k_, set())
            if not parent_inc <= inc:
                inc.update(parent_inc)
                changed = True

    def _reduces(key: str, ch: tuple) -> bool:
        for a, b in zip(ch, ch[1:]):
            if a[0] == b[0] and a[1] != b[1]:
                return True
        return any(p == ch[0][0] and d != ch[0][1]
                   for p, d in incoming_last.get(key, ()))

    def _variant_reduces(key: str, variant) -> bool:
        """Conservative superset of ``_reduces`` over a segment
        variant: any possibly-adjacent hop pair cancelling (incl.
        inner-application wrap-arounds) or a possible first hop
        cancelling an arrival step."""
        if any(a[0] == b[0] and a[1] != b[1]
               for a, b in _variant_adjacent_pairs(list(variant))):
            return True
        firsts, _zero = _variant_edge_hops(list(variant), front=True)
        inc = incoming_last.get(key, ())
        return any(p == f[0] and d != f[1]
                   for p, d in inc for f in firsts)

    for k_, ch_ in multi_match:
        # closed shapes never gate -> reduction is harmless there
        if k_ not in closed_keys and _reduces(k_, ch_):
            return None
    for k_, ch_, _c, _o in multi_link:
        # link chains are never gated themselves, but a reducing walk
        # would corrupt the child-pos last-step bookkeeping above
        if _reduces(k_, ch_):
            return None
    for k_, v_, gated_ in mp_match:
        if gated_ and _variant_reduces(k_, v_):
            return None
    for k_, v_, _c, _o in mp_link:
        if _variant_reduces(k_, v_):
            return None
    return (links, multi_match, multi_link,
            f"{shape.kind}:{shape.value}", frozenset(closed_keys),
            mp_match, mp_link)


def _vec_extract_bucket(
    tpdf: pd.DataFrame,
    mpdf: pd.DataFrame,
    store_col: str,
    vec_plan: tuple,
    bulk: bool,
    cbd_default_graph: bool,
    ignore_set: Set[tuple],
    out_cols: List[str],
) -> pd.DataFrame:
    """Extract every member of every store in the bucket with integer
    node codes and one CSR adjacency — no per-member, per-quad or
    per-wave string work. Semantics match ``extract_store`` for shapes
    accepted by ``compile_single_hop_links`` (parity-tested), with one
    documented bulk-engine contract: a (member, node) pair is claimed by
    ONE shape, chosen by BFS wave then link order — the same per-round
    claim the global fixpoint engine makes (extract.py struct-min
    claims; pinned by ``test_bfs_claim_contract_vec_matches_global``).
    The per-member interpreter follows the reference's DFS first-visit
    claim (lib/CBDShapeExtractor.ts:361-372); the two orders diverge
    only when the same node is reachable through nodeLinks to
    *different* shapes at different depths, where the reference's own
    answer is traversal-order-dependent rather than semantically
    canonical.

    Hop chains (flattened sequences/alternatives/inverses) run as
    chained CSR gathers per wave: match chains emit witness quads at
    every hop past the first (hop-1 FORWARD witnesses are a subset of
    the focus star CBD already emitted — except for CLOSED shapes,
    which run no CBD and emit every hop; INVERSE hops always emit);
    link chains produce claim targets only. Inverse hops read a second
    CSR sorted on object codes (reference POSG, lib/Utils.ts:10-23)
    with literal identity (value, lang, datatype) baked into literal
    object codes.

    One factorize pass turns every node string (subjects, objects,
    graphs, member entities) into codes; a node is
    ``(store*V + value)*4 + kind`` so store isolation is part of the
    key and equality tests between graphs and member entities are
    single int64 compares. Subjects are sorted ONCE into a CSR index;
    each CBD/link wave is then searchsorted + range-gather, visited
    sets are int64 arrays, and strings reappear only in the final
    output ``take``. ~5x over the previous per-wave pandas merges."""
    import numpy as np

    n = len(tpdf)
    m = len(mpdf)
    if n == 0 or m == 0:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in out_cols})

    tq = tpdf.reset_index(drop=True)
    mdf = mpdf.reset_index(drop=True)

    (links, multi_match, multi_link, root_key, closed_keys,
     mp_match, mp_link) = vec_plan

    def _variant_hops(v):
        for seg in v:
            if seg[0] == "chain":
                yield from seg[1]
            else:
                for ch in seg[2]:
                    yield from ch

    has_inv = any(h[1] for _, ch in multi_match for h in ch) or any(
        h[1] for _, ch, _, _ in multi_link for h in ch) or any(
        h[1] for k, v, _g in mp_match for h in _variant_hops(v)) or any(
        h[1] for k, v, _c, _o in mp_link for h in _variant_hops(v))

    graph = tq["graph"] if "graph" in tq else pd.Series([None] * n, dtype="object")
    obj_vals = tq["object_value"]
    if has_inv:
        # An inverse hop from a LITERAL focus matches by full literal
        # identity (value, lang, datatype) — lib/Utils.ts:85-92, mirrored
        # by the interpreter's literal-focus scan. Bake the identity into
        # the literal value codes so object-keyed lookups compare it in
        # one int64. Non-literals keep bare values (their codes must
        # still equal subject/member/graph codes). Pruned inputs
        # (columns= dropped lang/datatype from the scan) degrade to
        # value-only identity — exactly what the interpreter sees too.
        lang = tq["object_lang"].fillna("") if "object_lang" in tq else ""
        dt = tq["object_datatype"].fillna("") if "object_datatype" in tq else ""
        comp = obj_vals + "\x00" + lang + "\x00" + dt
        obj_vals = obj_vals.where(
            tq["object_kind"].astype("int64") != LITERAL, comp)
    vals = pd.concat(
        [tq["subject"], obj_vals, graph, mdf["_m_entity"]],
        ignore_index=True,
    )
    vcodes, uniq = pd.factorize(vals, use_na_sentinel=True)
    vcodes = vcodes.astype(np.int64) + 1  # 0 = null
    V = len(uniq) + 1
    subj_v = vcodes[:n]
    obj_v = vcodes[n:2 * n]
    graph_v = vcodes[2 * n:3 * n]
    mval_v = vcodes[3 * n:]

    scodes, _suniq = pd.factorize(
        pd.concat([tq[store_col], mdf["_m_store"]], ignore_index=True)
    )
    scodes = scodes.astype(np.int64)
    st_t = scodes[:n]
    st_m = scodes[n:]

    sk = tq["subject_kind"].to_numpy(dtype=np.int64)
    okd = tq["object_kind"].to_numpy(dtype=np.int64)
    if "graph_kind" in tq:
        gk = np.nan_to_num(
            tq["graph_kind"].to_numpy(dtype="float64"), nan=0.0
        ).astype(np.int64)
    else:
        gk = np.zeros(n, dtype=np.int64)
    mk = mdf["_m_kind"].to_numpy(dtype=np.int64)

    snode = (st_t * V + subj_v) * 4 + sk
    onode = (st_t * V + obj_v) * 4 + okd
    gnode = np.where(graph_v == 0, -1, (st_t * V + graph_v) * 4 + gk)
    mnode = (st_m * V + mval_v) * 4 + mk

    # bulk isolation inputs: quad's graph is some member's IRI entity
    if bulk:
        miri = np.unique(mnode[mk == IRI])
        gm = np.isin(gnode, miri)
        mnode_iri = np.where(mk == IRI, mnode, np.int64(-2))
    else:
        gm = np.zeros(n, dtype=bool)
        mnode_iri = np.full(m, np.int64(-2))

    # traversal view: graphs_to_ignore dropped (named-graph pickup
    # stays unfiltered); CBD additionally restricted to the default
    # graph when cbd_default_graph
    trav_mask = np.ones(n, dtype=bool)
    if ignore_set:
        lut = pd.Index(uniq)
        for k, v in ignore_set:
            c = lut.get_indexer([v])[0]
            if c >= 0:
                trav_mask &= ~((graph_v == c + 1) & (gk == k))
    cbd_row_ok = (graph_v == 0) if cbd_default_graph else None

    # CSR over subjects of traversal rows: sorted once, every wave is
    # searchsorted + range gather. Inverse hops get a SECOND ordering
    # sorted on object codes — the in-bucket analogue of the reference's
    # POSG index (lib/Utils.ts:10-23) — built only when the plan has
    # inverse hops; forward-only shapes never pay for it.
    rows_trav = np.nonzero(trav_mask)[0]

    def _make_csr(keyarr: np.ndarray):
        srt = np.argsort(keyarr[rows_trav])
        csr_rows = rows_trav[srt]
        csr_keys = keyarr[csr_rows]
        key_u, starts = np.unique(csr_keys, return_index=True)
        ends = np.append(starts[1:], len(csr_keys))

        def lookup(nodes: np.ndarray):
            """(quad row indices, index-into-nodes) for all traversal
            quads whose key is one of ``nodes``."""
            if not len(key_u):
                return (np.empty(0, np.int64),) * 2
            pos = np.searchsorted(key_u, nodes)
            pos[pos >= len(key_u)] = 0
            hit = key_u[pos] == nodes
            hpos = pos[hit]
            owners = np.nonzero(hit)[0]
            s, e = starts[hpos], ends[hpos]
            cnt = e - s
            total = int(cnt.sum())
            if total == 0:
                return (np.empty(0, np.int64),) * 2
            out = np.repeat(s, cnt) + (
                np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            )
            return csr_rows[out], np.repeat(owners, cnt)

        return lookup

    neigh = _make_csr(snode)
    neigh_inv = _make_csr(onode) if has_inv else None

    def graph_keep(rows, own_mids):
        if not bulk:
            return np.ones(len(rows), dtype=bool)
        return ~gm[rows] | (gnode[rows] == mnode_iri[own_mids])

    NKEY = (int(scodes.max()) + 1) * V * 4 + 4

    class _Vis:
        """Visited set over int64 keys, kept SORTED: membership is one
        searchsorted (O(K log N)) and insertion is one linear merge
        (np.insert with presorted positions, O(N+K)) — the per-wave
        full re-sort np.isin paid is gone, so deep-closure buckets
        (long blank chains: many waves, few keys each) stop growing
        superlinearly (VERDICT r2 #8). Callers pass keys sorted unique
        (they np.unique right before)."""

        __slots__ = ("arr",)

        def __init__(self):
            self.arr = np.empty(0, dtype=np.int64)

        def fresh_add(self, keys: np.ndarray) -> np.ndarray:
            if len(self.arr):
                pos = np.searchsorted(self.arr, keys)
                inb = pos < len(self.arr)
                mask = np.ones(len(keys), dtype=bool)
                mask[inb] = self.arr[pos[inb]] != keys[inb]
            else:
                mask = np.ones(len(keys), dtype=bool)
            fresh = keys[mask]
            if len(fresh):
                self.arr = np.insert(
                    self.arr, np.searchsorted(self.arr, fresh), fresh)
            return mask

    emitted_mid: List[np.ndarray] = []
    emitted_qid: List[np.ndarray] = []
    visited_cbd = _Vis()
    visited_shape = _Vis()

    def run_cbd(mid_arr: np.ndarray, node_arr: np.ndarray) -> None:
        key = mid_arr * NKEY + node_arr
        key, first = np.unique(key, return_index=True)
        mid_arr, node_arr = mid_arr[first], node_arr[first]
        mask = visited_cbd.fresh_add(key)
        mid_arr, node_arr = mid_arr[mask], node_arr[mask]
        while len(node_arr):
            rows, own = neigh(node_arr)
            if cbd_row_ok is not None and len(rows):
                ok_ = cbd_row_ok[rows]
                rows, own = rows[ok_], own[ok_]
            if len(rows):
                keep = graph_keep(rows, mid_arr[own])
                rows, own = rows[keep], own[keep]
            if not len(rows):
                break
            emitted_mid.append(mid_arr[own])
            emitted_qid.append(rows)
            blank = okd[rows] == BLANK
            rows_b, own_b = rows[blank], own[blank]
            if not len(rows_b):
                break
            kmid = mid_arr[own_b]
            knode = onode[rows_b]
            kkey = kmid * NKEY + knode
            kkey, first = np.unique(kkey, return_index=True)
            kmid, knode = kmid[first], knode[first]
            mask = visited_cbd.fresh_add(kkey)
            mid_arr, node_arr = kmid[mask], knode[mask]

    # ---- shape-guided recursion over the links table ----
    pred_codes, pred_uniq = pd.factorize(tq["predicate"])
    pred_codes = pred_codes.astype(np.int64)
    P = len(pred_uniq) + 1
    skeys = sorted(
        {l[0] for l in links} | {l[2] for l in links}
        | {m[0] for m in multi_match}
        | {m[0] for m in multi_link} | {m[2] for m in multi_link}
        | {m[0] for m in mp_match}
        | {m[0] for m in mp_link} | {m[2] for m in mp_link}
        | set(closed_keys)
        | ({root_key} if root_key is not None else set())
    )
    sk_id = {k: i for i, k in enumerate(skeys)}
    plut = pd.Index(pred_uniq)
    lmap: Dict[int, Tuple[int, int]] = {}
    for skey, pred, child, lorder in links:
        pid = plut.get_indexer([pred])[0]
        if pid >= 0:
            key = sk_id[skey] * P + pid
            # collision (two links, same predicate): keep the earliest
            # link order — the claim winner under the bulk contract
            if key not in lmap or lorder < lmap[key][1]:
                lmap[key] = (sk_id[child], lorder)

    # Chains -> (predicate-code, inverse-flag) arrays. A match chain
    # with a predicate absent from this bucket is truncated at the first
    # missing hop (the interpreter still emits the reachable prefix's
    # witnesses); a link chain with any missing hop has no targets.
    closed_ids = np.array(
        sorted(sk_id[k] for k in closed_keys if k in sk_id), dtype=np.int64)
    mm_chains: List[Tuple[int, np.ndarray, np.ndarray, bool]] = []
    for skey, ch in multi_match:
        pids = plut.get_indexer([h[0] for h in ch]).astype(np.int64)
        invs = np.array([h[1] for h in ch], dtype=bool)
        miss = np.nonzero(pids < 0)[0]
        if len(miss):
            pids, invs = pids[: miss[0]], invs[: miss[0]]
        if len(pids):
            # closed shapes run no CBD, so even hop-0 forward witnesses
            # must be emitted (lib/CBDShapeExtractor.ts:389-391)
            mm_chains.append(
                (sk_id[skey], pids, invs, skey in closed_keys))
    ml_chains: List[Tuple[int, np.ndarray, np.ndarray, int, int]] = []
    for skey, ch, child, lorder in multi_link:
        pids = plut.get_indexer([h[0] for h in ch]).astype(np.int64)
        invs = np.array([h[1] for h in ch], dtype=bool)
        if (pids >= 0).all():
            ml_chains.append(
                (sk_id[skey], pids, invs, sk_id[child], lorder))

    def _hop_codes(ch):
        return (plut.get_indexer([h[0] for h in ch]).astype(np.int64),
                np.array([h[1] for h in ch], dtype=bool))

    def _seg_codes(v):
        # A hop whose predicate is absent from the bucket keeps code
        # -1: the gather emits the reachable prefix, then truncates —
        # the interpreter's per-application behaviour.
        return [("chain",) + _hop_codes(seg[1]) if seg[0] == "chain"
                else ("multi", seg[1], [_hop_codes(c) for c in seg[2]],
                      seg[3])
                for seg in v]

    mpm_entries = [(sk_id[k], _seg_codes(v), gated)
                   for k, v, gated in mp_match]
    mpl_entries = [(sk_id[k], _seg_codes(v), sk_id[c], lo)
                   for k, v, c, lo in mp_link]

    def blank_gated(mids: np.ndarray, nodes: np.ndarray,
                    pids: np.ndarray) -> np.ndarray:
        """found()-gate for all-forward multi-hop match chains of open
        shapes: the reference skips matching a path whose full word
        walk is already witnessed (lib/CBDShapeExtractor.ts:404-417 via
        Path.found). From a fresh focus, CBD words are exactly the
        blank-descent routes (every non-terminal hop lands on a blank
        node the star closure walked), so a (member, focus) pair is
        gated iff a FULL blank-intermediate realization of the chain
        exists. Returns a bool mask over the input pairs. Known
        divergence (documented contract): when a blank is reachable
        through several predicates, the reference's word claim is
        traversal-order-dependent — this gate claims any-route."""
        k = len(pids)
        out = np.zeros(len(nodes), dtype=bool)
        cur_m, cur_n = mids, nodes
        cur_o = np.arange(len(nodes), dtype=np.int64)
        for depth, pid in enumerate(pids):
            rows, own = neigh(cur_n)
            if len(rows):
                keep = pred_codes[rows] == pid
                rows, own = rows[keep], own[keep]
            if len(rows):
                keep = graph_keep(rows, cur_m[own])
                rows, own = rows[keep], own[keep]
            if depth < k - 1 and len(rows):
                keep = okd[rows] == BLANK
                rows, own = rows[keep], own[keep]
            if not len(rows):
                return out
            cur_m, cur_o = cur_m[own], cur_o[own]
            cur_n = onode[rows]
            key = cur_o * NKEY + cur_n
            _, first = np.unique(key, return_index=True)
            cur_m, cur_n, cur_o = cur_m[first], cur_n[first], cur_o[first]
        out[np.unique(cur_o)] = True
        return out

    def chain_gather(mids: np.ndarray, nodes: np.ndarray,
                     pids: np.ndarray, invs: np.ndarray, emit: bool,
                     emit0: bool = False):
        """Walk one hop chain from (mids, nodes); optionally emit
        witness quads. Forward hop-0 witnesses are skipped unless
        ``emit0`` (non-closed shapes: they are in the focus star the
        CBD already emitted); inverse hops always emit when ``emit``
        (an incoming quad is never in the focus star). An inverse hop
        reads the object-sorted CSR and steps to the quad's SUBJECT
        (lib/Path.ts:52-64)."""
        for depth, (pid, inv) in enumerate(zip(pids, invs)):
            if not len(nodes):
                break
            if pid < 0:  # predicate absent from bucket: truncate here
                return (np.empty(0, np.int64),) * 2
            rows, own = (neigh_inv if inv else neigh)(nodes)
            if len(rows):
                keep = pred_codes[rows] == pid
                rows, own = rows[keep], own[keep]
            if len(rows):
                keep = graph_keep(rows, mids[own])
                rows, own = rows[keep], own[keep]
            if not len(rows):
                return (np.empty(0, np.int64),) * 2
            if emit and (inv or depth > 0 or emit0):
                emitted_mid.append(mids[own])
                emitted_qid.append(rows)
            mids = mids[own]
            nodes = snode[rows] if inv else onode[rows]
        return mids, nodes

    def _dedup_mn(mids: np.ndarray, nodes: np.ndarray):
        key = mids * NKEY + nodes
        _, first = np.unique(key, return_index=True)
        return mids[first], nodes[first]

    def multipath_bfs(mids: np.ndarray, nodes: np.ndarray, chains,
                      emit: bool, max_count):
        """Repeated inner-chain applications from (mids, nodes):
        multi-source BFS with a per-(member, node) visited set — the
        member-level closure equals the union of the interpreter's
        per-root closures (lib/Path.ts:212-287: per-root visited,
        admit-but-don't-expand; results are SETS, so shared expansion
        collects the same witness union and the same admitted-target
        membership). Returns the >=1-application admitted targets,
        dedup'd per (member, node); witness quads of every application
        hop are emitted when ``emit`` (the interpreter's match collects
        every hop, including truncated-application prefixes)."""
        vis = _Vis()
        cur_m, cur_n = _dedup_mn(mids, nodes)
        vis.fresh_add(cur_m * NKEY + cur_n)
        out_m: List[np.ndarray] = []
        out_n: List[np.ndarray] = []
        apps = 0
        while len(cur_m):
            if max_count is not None and apps >= max_count:
                break
            app_m: List[np.ndarray] = []
            app_n: List[np.ndarray] = []
            for pids, invs in chains:
                tm, tn = chain_gather(cur_m, cur_n, pids, invs,
                                      emit=emit, emit0=emit)
                if len(tm):
                    app_m.append(tm)
                    app_n.append(tn)
            if not app_m:
                break
            am, an = _dedup_mn(np.concatenate(app_m),
                               np.concatenate(app_n))
            # every reached node is ADMITTED (re-reached ones too:
            # admit-but-don't-expand), only fresh ones expand further
            out_m.append(am)
            out_n.append(an)
            key = am * NKEY + an
            srt = np.argsort(key)
            mask = vis.fresh_add(key[srt])
            cur_m, cur_n = am[srt][mask], an[srt][mask]
            apps += 1
        if out_m:
            return _dedup_mn(np.concatenate(out_m), np.concatenate(out_n))
        return (np.empty(0, np.int64),) * 2

    def walk_variant(mids: np.ndarray, nodes: np.ndarray, segments,
                     emit: bool):
        """Walk one segment variant (chains + multipaths) left to
        right, the kernel analogue of the interpreter's SequencePath
        fold; zero-admitting multipath kinds pass their origins
        through alongside the BFS targets."""
        cur_m, cur_n = mids, nodes
        for seg in segments:
            if not len(cur_m):
                break
            if seg[0] == "chain":
                cur_m, cur_n = chain_gather(cur_m, cur_n, seg[1], seg[2],
                                            emit=emit, emit0=emit)
            else:
                _tag, kind, chains, max_count = seg
                tm, tn = multipath_bfs(cur_m, cur_n, chains, emit,
                                       1 if kind == "?" else max_count)
                if kind in ("*", "?"):  # zero applications admit origin
                    tm = np.concatenate([cur_m, tm])
                    tn = np.concatenate([cur_n, tn])
                    tm, tn = _dedup_mn(tm, tn)
                cur_m, cur_n = tm, tn
        return cur_m, cur_n

    w_mid = np.arange(m, dtype=np.int64)
    w_node = mnode.copy()
    w_skey = np.full(m, sk_id.get(root_key, -1), dtype=np.int64)
    w_lorder = np.zeros(m, dtype=np.int64)
    while len(w_mid):
        keep = (w_node % 4) != LITERAL
        w_mid, w_node, w_skey, w_lorder = (
            w_mid[keep], w_node[keep], w_skey[keep], w_lorder[keep])
        if not len(w_mid):
            break
        # one shape visit per (member, node); claim in link order
        key = w_mid * NKEY + w_node
        ordi = np.lexsort((w_lorder, key))
        _, first = np.unique(key[ordi], return_index=True)
        pick = ordi[first]
        w_mid, w_node, w_skey = w_mid[pick], w_node[pick], w_skey[pick]
        mask = visited_shape.fresh_add(key[pick])
        w_mid, w_node, w_skey = w_mid[mask], w_node[mask], w_skey[mask]
        if not len(w_mid):
            break
        # CBD at each node EXCEPT closed-shape focus nodes
        # (lib/CBDShapeExtractor.ts:389-391; unresolved keys = plain CBD)
        if len(closed_ids):
            open_sel = ~np.isin(w_skey, closed_ids)
            if open_sel.any():
                run_cbd(w_mid[open_sel], w_node[open_sel])
        else:
            run_cbd(w_mid, w_node)
        if (not lmap and not mm_chains and not ml_chains
                and not mpm_entries and not mpl_entries):
            break
        nxt_mid: List[np.ndarray] = []
        nxt_node: List[np.ndarray] = []
        nxt_skey: List[np.ndarray] = []
        nxt_lorder: List[np.ndarray] = []
        if lmap:
            rows, own = neigh(w_node)
            if len(rows):
                keep = graph_keep(rows, w_mid[own])
                rows, own = rows[keep], own[keep]
            if len(rows):
                lk = w_skey[own] * P + pred_codes[rows]
                child = np.full(len(rows), -1, dtype=np.int64)
                lord = np.zeros(len(rows), dtype=np.int64)
                for k, (cid, lo) in lmap.items():
                    hitm = lk == k
                    child[hitm] = cid
                    lord[hitm] = lo
                has = child >= 0
                if has.any():
                    nxt_mid.append(w_mid[own[has]])
                    nxt_node.append(onode[rows[has]])
                    nxt_skey.append(child[has])
                    nxt_lorder.append(lord[has])
        for sk, pids, invs, emit0 in mm_chains:
            sel = w_skey == sk
            if not sel.any():
                continue
            m_, n_ = w_mid[sel], w_node[sel]
            if not emit0 and len(pids) > 1 and not invs.any():
                keep = ~blank_gated(m_, n_, pids)
                m_, n_ = m_[keep], n_[keep]
                if not len(m_):
                    continue
            chain_gather(m_, n_, pids, invs, emit=True, emit0=emit0)
        for sk, pids, invs, cid, lo in ml_chains:
            sel = w_skey == sk
            if not sel.any():
                continue
            mids, nodes = chain_gather(w_mid[sel], w_node[sel], pids,
                                       invs, emit=False)
            if len(mids):
                nxt_mid.append(mids)
                nxt_node.append(nodes)
                nxt_skey.append(np.full(len(mids), cid, dtype=np.int64))
                nxt_lorder.append(np.full(len(mids), lo, dtype=np.int64))
        for sk, segs, gated in mpm_entries:
            sel = w_skey == sk
            if not sel.any():
                continue
            m_, n_ = w_mid[sel], w_node[sel]
            if gated:
                # whole-path '+' on an open shape: gated per focus iff
                # ONE inner application is witnessed (OneOrMorePath
                # .found, lib/Path.ts:321-333 — alternative inner =
                # any option); only all-forward chains can be
                # witnessed by CBD words.
                g = np.zeros(len(m_), dtype=bool)
                for pids, invs in segs[0][2]:
                    if not invs.any():
                        g |= blank_gated(m_, n_, pids)
                m_, n_ = m_[~g], n_[~g]
                if not len(m_):
                    continue
            walk_variant(m_, n_, segs, emit=True)
        for sk, segs, cid, lo in mpl_entries:
            sel = w_skey == sk
            if not sel.any():
                continue
            mids, nodes = walk_variant(w_mid[sel], w_node[sel], segs,
                                       emit=False)
            if len(mids):
                nxt_mid.append(mids)
                nxt_node.append(nodes)
                nxt_skey.append(np.full(len(mids), cid, dtype=np.int64))
                nxt_lorder.append(np.full(len(mids), lo, dtype=np.int64))
        if not nxt_mid:
            break
        w_mid = np.concatenate(nxt_mid)
        w_node = np.concatenate(nxt_node)
        w_skey = np.concatenate(nxt_skey)
        w_lorder = np.concatenate(nxt_lorder)

    # named-graph member pickup — unfiltered (lib/CBDShapeExtractor.ts:317-324)
    named = np.nonzero(gnode >= 0)[0]
    if len(named):
        gsrt = np.argsort(gnode[named])
        g_rows = named[gsrt]
        g_keys = gnode[g_rows]
        gu, gs = np.unique(g_keys, return_index=True)
        ge = np.append(gs[1:], len(g_keys))
        pos = np.searchsorted(gu, mnode)
        pos[pos >= len(gu)] = 0
        hit = gu[pos] == mnode
        hpos = pos[hit]
        owners = np.nonzero(hit)[0]
        s, e = gs[hpos], ge[hpos]
        cnt = e - s
        total = int(cnt.sum())
        if total:
            out = np.repeat(s, cnt) + (
                np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            )
            emitted_mid.append(owners[np.repeat(np.arange(len(cnt)), cnt)])
            emitted_qid.append(g_rows[out])

    if not emitted_mid:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in out_cols})
    pairs = np.unique(
        np.concatenate(emitted_mid) * np.int64(n)
        + np.concatenate(emitted_qid)
    )
    pm = pairs // n
    pq_ = pairs % n
    data = {}
    for c in out_cols:
        if c == "entity":
            data[c] = mdf["_m_entity"].take(pm).reset_index(drop=True)
        else:
            data[c] = tq[c].take(pq_).reset_index(drop=True)
    return pd.DataFrame(data)


# Sentinel for NULL store keys: NULL-store members and quads must not
# be dropped silently (pandas groupby drops NaN keys), so both sides
# coalesce to this value and still pair up as one store.
_NULL_STORE = "\x00<null-store>"


def _marker_stream(triples: DataFrame, members: DataFrame,
                   store_col: str) -> DataFrame:
    """Union quads with member-seed marker rows (predicate NULL —
    impossible for a real quad) into ONE stream keyed by ``store_col``.
    This is the layout both the shuffling engine and the pre-bucketed
    store share: one hash-partition by store co-locates every member
    with its quads, and the kernel tells the two row kinds apart by the
    NULL predicate."""
    if "entity_kind" not in members.columns:
        members = members.withColumn(
            "entity_kind", F.lit(IRI).cast("tinyint"))
    triples = triples.withColumn(
        store_col, F.coalesce(F.col(store_col), F.lit(_NULL_STORE))
    )
    members = members.withColumn(
        store_col, F.coalesce(F.col(store_col), F.lit(_NULL_STORE))
    )
    tq = triples.select(
        F.col(store_col),
        "subject", "subject_kind", "predicate", "object_value",
        "object_kind", "object_lang", "object_datatype", "graph",
        "graph_kind",
    )
    mq = members.select(
        F.col(store_col),
        F.col("entity").alias("subject"),
        F.col("entity_kind").cast("tinyint").alias("subject_kind"),
        F.lit(None).cast("string").alias("predicate"),
        F.lit(None).cast("string").alias("object_value"),
        F.lit(0).cast("tinyint").alias("object_kind"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(None).cast("tinyint").alias("graph_kind"),
    )
    return tq.unionByName(mq)


def _make_runner(
    shapes_graph: Optional[ShapesGraph],
    shape: Optional[Term],
    store_col: str,
    bulk: bool,
    cbd_default_graph: bool,
    graphs_to_ignore: Sequence[Term],
    vectorize: bool,
    members_from_subjects: bool,
    columns: Optional[Sequence[str]],
    exclude_stores: Sequence[str] = (),
    store_distinct: bool = False,
):
    """Build the mapInArrow partition function shared by every entry
    point; returns ``(run_partition, cols)``, ``cols`` being the result
    columns it emits (``columns`` or all of ``OUT_COLS``).
    ``members_from_subjects`` derives the member set per store inside
    the kernel (every distinct IRI subject of the store — the
    crawl/pipeline regime) instead of reading marker rows, which lets
    callers skip the seed-distinct shuffle entirely.

    The boundary is ``mapInArrow`` + Arrow-backed pandas, not
    ``mapInPandas``: converting millions of quad strings to numpy
    object arrays and back costs more than the extraction itself
    (measured ~1.55s round-trip vs ~1.2s at sf0.1), while
    ``types_mapper=pd.ArrowDtype`` keeps string columns zero-copy on
    the Arrow buffers through every merge."""
    import pyarrow as pa

    # Vectorized fast path: single-hop forward-predicate shape DAGs run
    # as columnar merges over the whole bucket (no per-member Python).
    vec_plan = compile_single_hop_links(
        shapes_graph, shape, cbd_default_graph) if vectorize else None
    cols = list(columns) if columns is not None else OUT_COLS
    ignore = tuple((g.kind, g.value) for g in graphs_to_ignore)
    exclude_stores = frozenset(exclude_stores)
    out_schema = pa.schema(
        [
            pa.field(c, pa.int8() if _RESULT_TYPES[c] == "tinyint"
                     else pa.string())
            for c in cols
        ]
    )

    def _emit(out: pd.DataFrame):
        tbl = pa.Table.from_pandas(out, preserve_index=False)
        yield from tbl.select(cols).cast(out_schema).to_batches()

    def run_partition(batches) -> "Iterable[pa.RecordBatch]":
        arrs = list(batches)
        if not arrs:
            return
        pdf = pa.Table.from_batches(arrs).to_pandas(
            types_mapper=pd.ArrowDtype
        )
        if exclude_stores:
            # giant-store routing (skew guard): excluded stores are
            # served by the global fixpoint engine; the kernel drops
            # their rows here so a bucket containing a giant still
            # extracts its normal stores
            pdf = pdf[~pdf[store_col].isin(exclude_stores)]
        if members_from_subjects:
            tpdf = pdf[pdf["predicate"].notna()]
            subj = tpdf[tpdf["subject_kind"] == IRI]
            mpdf = subj[[store_col, "subject", "subject_kind"]].drop_duplicates(
                [store_col, "subject"]
            ).rename(
                columns={store_col: "_m_store", "subject": "_m_entity",
                         "subject_kind": "_m_kind"}
            )
        else:
            is_member = pdf["predicate"].isna()
            mpdf = pdf[is_member].rename(
                columns={store_col: "_m_store", "subject": "_m_entity",
                         "subject_kind": "_m_kind"}
            )[["_m_store", "_m_entity", "_m_kind"]]
            tpdf = pdf[~is_member]
        if mpdf.empty or tpdf.empty:
            return
        if vec_plan is not None and not store_distinct:
            # Reference uniqueQuads semantics (lib/Utils.ts:44-64): a
            # duplicated store quad must appear once per extraction.
            # The interpreter dedups its own output; the CSR kernel
            # emits gathered input rows, so dedup the input per store
            # here. store_distinct=True is the caller's contract that
            # the corpus is duplicate-free (e.g. ingested through a
            # distinct) and skips the pass.
            tpdf = tpdf.drop_duplicates(
                [c for c in (store_col, "subject", "subject_kind",
                             "predicate", "object_value", "object_kind",
                             "object_lang", "object_datatype", "graph",
                             "graph_kind") if c in tpdf]
            )
        if vec_plan is not None:
            yield from _emit(_vec_extract_bucket(
                tpdf, mpdf, store_col, vec_plan, bulk,
                cbd_default_graph, set(ignore), cols,
            ))
            return
        out_rows: List[tuple] = []
        member_groups = {
            k: [(int(ek), ev) for ek, ev in zip(g["_m_kind"], g["_m_entity"])]
            for k, g in mpdf.groupby("_m_store", sort=False)
        }
        n = len(tpdf)

        def _opt(col):  # pruned-input tolerance (see ``columns=``)
            return tpdf[col].to_numpy() if col in tpdf else [None] * n

        lang = _opt("object_lang")
        dt = _opt("object_datatype")
        gr = _opt("graph")
        gk = _opt("graph_kind")
        quads_all = list(zip(
            tpdf["subject"], tpdf["subject_kind"], tpdf["predicate"],
            tpdf["object_value"], tpdf["object_kind"],
            [None if pd.isna(x) else x for x in lang],
            [None if pd.isna(x) else x for x in dt],
            [None if pd.isna(x) else x for x in gr],
            [None if pd.isna(x) else int(x) for x in gk],
        ))
        by_store: Dict[str, List[tuple]] = {}
        for skey, q in zip(tpdf[store_col], quads_all):
            by_store.setdefault(skey, []).append(q)
        for skey, mlist in member_groups.items():
            quads = by_store.get(skey)
            if not quads:
                continue
            out_rows.extend(
                extract_store(quads, mlist, shapes_graph, shape,
                              bulk=bulk,
                              graphs_to_ignore=ignore,
                              cbd_default_graph=cbd_default_graph)
            )
        if out_rows:
            yield from _emit(pd.DataFrame(out_rows, columns=OUT_COLS)[cols])

    return run_partition, cols


OUT_COLS = ["entity", "subject", "subject_kind", "predicate",
            "object_value", "object_kind", "object_lang",
            "object_datatype", "graph", "graph_kind"]


def materialize_store(
    triples: DataFrame,
    members: Optional[DataFrame],
    path: str,
    store_col: str = "store_key",
    n_buckets: Optional[int] = None,
) -> str:
    """Ingest-time bucketing: write the combined member+quad stream
    hash-partitioned by ``store_col`` as one parquet file per bucket.

    This is the 100 TB layout: the corpus is shuffled by store ONCE when
    it lands, and every subsequent extraction over it
    (``local_bulk_extract_files`` / ``extract_store_files_to_store``)
    runs with ZERO exchanges — per-file read -> per-store kernel ->
    sink, embarrassingly parallel. The production target is an Iceberg
    table ``partitionedBy(bucket(N, store))``; on plain parquet one
    file per hash bucket gives the same guarantee, since the readers
    hand each task whole files.

    ``members=None`` writes quads only — for corpora whose member set is
    derivable per store (every IRI subject: the crawl regime), extracted
    later with ``members_from_subjects=True``."""
    spark = triples.sparkSession
    p = n_buckets or max(64, spark.sparkContext.defaultParallelism * 2)
    if members is None:
        combined = triples.withColumn(
            store_col, F.coalesce(F.col(store_col), F.lit(_NULL_STORE))
        ).select(
            F.col(store_col),
            "subject", "subject_kind", "predicate", "object_value",
            "object_kind", "object_lang", "object_datatype", "graph",
            "graph_kind",
        )
    else:
        combined = _marker_stream(triples, members, store_col)
    combined.repartition(p, F.col(store_col)).write.mode(
        "overwrite").parquet(path)
    return path


def _file_manifest(spark: SparkSession, src_dirs: Sequence[str]) -> DataFrame:
    """One bucket file per task, over every parquet file under
    ``src_dirs``. Each ``materialize_store`` file is a complete set of
    stores, so file granularity preserves the kernel's
    store-completeness contract.

    Built as a parallelized RDD with one path per slice — no Exchange
    anywhere in the plan (a ``repartition`` would insert a RoundRobin
    exchange, harmless over 256 strings but breaking the engine's
    zero-Exchange plan contract)."""
    import os

    files = sorted(
        os.path.join(root, fn)
        for d in src_dirs
        for root, _dirs, fns in os.walk(d)
        for fn in fns if fn.endswith(".parquet")
    )
    rdd = spark.sparkContext.parallelize(
        [(p,) for p in files], max(1, len(files)))
    return spark.createDataFrame(rdd, "path string")


def _per_file(runner, store_col: str, columns: Optional[Sequence[str]]):
    """Wrap a kernel runner for a file manifest: for each bucket path
    in the task's batches, read the file with pyarrow inside the Python
    worker and yield ``(path, kernel output batches)``.

    The read is projected: the kernel never traverses literal
    lang/datatype, so when the caller's output projection omits them
    the reader skips their column chunks entirely."""
    read_cols = None
    if columns is not None and not (
            {"object_lang", "object_datatype"} & set(columns)):
        read_cols = [store_col, "subject", "subject_kind", "predicate",
                     "object_value", "object_kind", "graph", "graph_kind"]

    def each_file(batches):
        import pyarrow.parquet as pq

        for b in batches:
            for p in b.column("path").to_pylist():
                yield p, runner(
                    pq.read_table(p, columns=read_cols).to_batches())

    return each_file


def local_bulk_extract_files(
    spark: SparkSession,
    store_path: str,
    shapes_graph: Optional[ShapesGraph] = None,
    shape: Optional[Term] = None,
    store_col: str = "store_key",
    bulk: bool = True,
    cbd_default_graph: bool = False,
    graphs_to_ignore: Sequence[Term] = (),
    vectorize: bool = True,
    members_from_subjects: bool = False,
    columns: Optional[Sequence[str]] = None,
    exclude_stores: Sequence[str] = (),
    store_distinct: bool = False,
) -> DataFrame:
    """Zero-shuffle extraction over a ``materialize_store`` table with
    a PYTHON-NATIVE scan: the job's rows are bucket FILE PATHS; each
    task opens its complete bucket parquet file with pyarrow inside the
    Python worker and runs the kernel on the mmapped Arrow buffers
    directly. With ``members_from_subjects=True`` the member seeds are
    derived inside the kernel (distinct IRI subjects per store), so
    even the seed ``distinct()`` shuffle disappears.

    Motivation (measured, BENCH_LAYERS.md): the extraction kernel's
    numpy work scales ~0.97 as independent processes, but routing the
    same bytes JVM-scan -> Arrow IPC -> Python anti-scales on a shared
    memory bus — a pass-through ``mapInArrow`` costs 2x the kernel
    itself. Reading the parquet in the worker eliminates the input leg
    entirely; only the (much smaller, projected) RESULT crosses back to
    the JVM. Spark still owns scheduling, task retries, speculative
    execution, and downstream composition — the same division of labor
    as Spark's Python Data Source API (pyspark 4
    ``spark.dataSource``), expressed with ``mapInArrow`` so the plan
    stays a plain DataFrame.

    ``columns``: subset of the result columns to emit — projection
    pushdown through the Arrow boundary (a caller's ``.select`` after
    ``mapInArrow`` prunes AFTER the Python->JVM transfer; this prunes
    before it, and also prunes the input read, see ``_per_file``).

    At 100 TB the pattern holds: the manifest is the Iceberg scan-file
    list (planned driver-side, tiny), tasks read data files via the
    table FileIO, and no executor JVM materializes quad bytes.
    Semantics are identical to ``local_bulk_extract`` (parity-tested);
    only the physical path differs."""
    runner, cols = _make_runner(
        shapes_graph, shape, store_col, bulk, cbd_default_graph,
        graphs_to_ignore, vectorize, members_from_subjects, columns,
        exclude_stores, store_distinct,
    )
    each_file = _per_file(runner, store_col, columns)

    def file_runner(batches) -> "Iterable":
        for _p, out in each_file(batches):
            yield from out

    paths = _file_manifest(spark, [store_path])
    return paths.mapInArrow(file_runner, _projected_schema(cols))


def extract_store_files_to_store(
    spark: SparkSession,
    store_path,  # str or Sequence[str]: data dir(s) of the store table
    out_path: str,
    shapes_graph: Optional[ShapesGraph] = None,
    shape: Optional[Term] = None,
    store_col: str = "store_key",
    bulk: bool = True,
    cbd_default_graph: bool = False,
    graphs_to_ignore: Sequence[Term] = (),
    vectorize: bool = True,
    members_from_subjects: bool = False,
    columns: Optional[Sequence[str]] = None,
    exclude_stores: Sequence[str] = (),
    store_distinct: bool = False,
) -> DataFrame:
    """Sink-fused extraction: read bucket parquet -> kernel -> WRITE
    output parquet, all inside the Python worker. The executor JVM never
    touches a quad byte in either direction — Spark contributes
    scheduling, retries, and the returned per-file lineage manifest
    ``(src, file, rows)``.

    This is the materialization path a 100 TB extraction actually runs
    (extract once, land a new table): the input manifest is the ingest
    table's file list, each task writes its bucket's result file, and
    the output inherits the input's store-hash layout (result rows of a
    bucket stay in that bucket — extraction only emits quads of stores
    seeded in the same bucket), so downstream extractions over the
    result need no re-bucketing. Writes go to a temp name then
    ``os.replace`` so a retried task can never leave a torn file; on a
    production object store the same contract comes from the Iceberg
    commit protocol (``sinks/materialize.py``).

    Returns the manifest DataFrame (cheap — one row per bucket);
    callers count/aggregate it without moving quads through the JVM."""
    import os

    os.makedirs(out_path, exist_ok=True)
    runner, _cols = _make_runner(
        shapes_graph, shape, store_col, bulk, cbd_default_graph,
        graphs_to_ignore, vectorize, members_from_subjects, columns,
        exclude_stores, store_distinct,
    )
    each_file = _per_file(runner, store_col, columns)
    # Accept one data dir or several (a snapshot that inherits parent
    # data dirs, sinks/materialize append model). Result names flatten
    # the path relative to the dirs' common root, so files from
    # different snapshots (which reuse bucket=K/part-NNNNN basenames)
    # can never collide.
    src_dirs = [store_path] if isinstance(store_path, str) else list(store_path)
    store_root = os.path.commonpath([os.path.abspath(d) for d in src_dirs])

    def sink_runner(batches) -> "Iterable":
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        for p, out in each_file(batches):
            out_batches = list(out)
            dest = None
            rows = 0
            if out_batches:
                tbl = pa.Table.from_batches(out_batches)
                rows = tbl.num_rows
                # deterministic per-SOURCE-FILE name (retry lands the
                # same name, a second source file never collides):
                # Spark reuses part-NNNNN basenames across hive
                # partition dirs (bucket=15/part-00029 and
                # bucket=19/part-00029 coexist), so flatten the
                # path relative to the store root into the name.
                rel = os.path.relpath(os.path.abspath(p), store_root)
                dest = os.path.join(out_path, rel.replace(os.sep, "--"))
                tmp = dest + "." + uuid.uuid4().hex + ".tmp"
                pq.write_table(tbl, tmp)
                os.replace(tmp, dest)
            yield pa.RecordBatch.from_pydict(
                {"src": [p], "file": [dest], "rows": [rows]},
                schema=pa.schema([
                    pa.field("src", pa.string()),
                    pa.field("file", pa.string()),
                    pa.field("rows", pa.int64()),
                ]),
            )

    paths = _file_manifest(spark, src_dirs)
    return paths.mapInArrow(sink_runner, "src string, file string, rows long")


def local_bulk_extract(
    triples: DataFrame,
    members: DataFrame,
    shapes_graph: Optional[ShapesGraph] = None,
    shape: Optional[Term] = None,
    store_col: str = "store_key",
    bulk: bool = True,
    cbd_default_graph: bool = False,
    n_buckets: Optional[int] = None,
    graphs_to_ignore: Sequence[Term] = (),
    vectorize: bool = True,
    columns: Optional[Sequence[str]] = None,
    store_distinct: bool = False,
) -> DataFrame:
    """Distributed wrapper: one shuffle by ``store_col``, then per-store
    extraction in one mapInArrow kernel per partition. ``columns``:
    projection pushdown into the kernel output schema (see
    ``local_bulk_extract_files``).

    ``triples``: quad columns + ``store_col``; ``members``: ``entity``
    (string), optional ``entity_kind``, + ``store_col``.

    Stores are hashed into ``n_buckets`` coarse groups (default 2x the
    default parallelism, at least 64) so the per-group pandas overhead
    amortizes over thousands of stores per task; store isolation is
    preserved by grouping on ``store_col`` again inside the task.

    Every store lands whole in one task. A store too big for one task
    (a giant page) belongs on the global fixpoint engine
    (``BulkCBDShapeExtractor``), run once per giant store — the
    pipeline routes its ingest-detected giants that way."""
    spark = triples.sparkSession
    # Partition count decoupled from session parallelism: enough
    # partitions that store-hash collisions balance (law of large
    # numbers), scaled up with the cluster.
    p = n_buckets or max(64, spark.sparkContext.defaultParallelism * 2)

    # SINGLE-shuffle physical plan: member seeds ride along as marker
    # rows in the same stream, the union is hash-repartitioned by store
    # (NO sort — unlike groupBy/cogroup applyInPandas, which sorts every
    # partition by key), and mapInArrow consumes whole partitions.
    # Store isolation is enforced inside the kernel by the store column,
    # so partition = a coarse bucket of many stores. (Corpora that are
    # bucketed by store at ingest skip even this one shuffle —
    # materialize_store / local_bulk_extract_files.)
    combined = _marker_stream(triples, members, store_col).repartition(
        p, F.col(store_col))
    runner, cols = _make_runner(
        shapes_graph, shape, store_col, bulk, cbd_default_graph,
        graphs_to_ignore, vectorize, False, columns,
        store_distinct=store_distinct,
    )
    return combined.mapInArrow(runner, _projected_schema(cols))
