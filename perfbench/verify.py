"""Output checks, run in DuckDB outside the timed region.

Expected rows come from the DuckDB mirrors in
``__spark_entry__.oracle_sql()`` evaluated over the generated input
tables; actual rows are the parquet files the program wrote (or, for
DESCRIBE, the rows it returned). Tables are compared by row count plus
an order-independent hash (the sum of DuckDB ``hash`` over each row),
small results as sets.

``corrupt=True`` alters one row of every expected input table before
the mirror runs, so every check must fail: the benchmark's own tests
use it to show that wrong output is counted.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Sequence, Tuple

import duckdb
import pyarrow as pa

TOKS_SQL = ("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
            "x -> x <> '')")


class Checker:
    def __init__(self, work_dir: str, dict_size: int, corrupt: bool = False):
        import __spark_entry__

        self.oracle = __spark_entry__.oracle_sql()
        self.dict_size = dict_size
        self.corrupt = corrupt
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{work_dir}/duckdb'")

    def _expected_input(self, name: str, table: pa.Table) -> None:
        if self.corrupt and table.num_rows:
            col = table.column_names[0]
            vals = table.column(col).to_pylist()
            vals[0] = vals[0] + 1 if isinstance(vals[0], int) else "x"
            typ = table.schema.field(col).type
            table = table.set_column(0, col, pa.array(vals, typ))
        self.con.register(name, table)

    def _digest(self, sql: str, cols: str) -> Tuple[int, int]:
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM ({sql})"
        ).fetchone()
        return int(n), int(h)

    @staticmethod
    def _files(*data_dirs: str) -> str:
        globs = ", ".join(f"'{d}/**/*.parquet'" for d in data_dirs)
        return f"read_parquet([{globs}], union_by_name = true)"

    # ------------------------------------------------------------ pages

    def page_triples(self, docs: pa.Table, data_dir: str) -> Tuple[bool, int]:
        """The triples one raw_triples snapshot dir holds equal the
        ``pages_extract_triples`` mirror over ``docs``. Returns (ok,
        expected rows)."""
        self._expected_input("documents", docs)
        cols = ("subject, subject_kind::INT, predicate, object_value, "
                "object_kind::INT")
        want = self._digest(self.oracle["pages_extract_triples"], cols)
        got = self._digest(f"SELECT * FROM {self._files(data_dir)}", cols)
        return got == want, want[0]

    def graph_tables(self, docs: pa.Table,
                     tables: Dict[str, Sequence[str]]) -> Dict[str, bool]:
        """The graph-level tables of the latest snapshots (``tables``:
        table name -> its data dirs), each recomputed in DuckDB from
        every ingested document:

        * ``entity_triples``: the concise bounded description of every
          IRI subject over the ``pages_extract_triples`` mirror;
        * ``links``: distinct (doc, mention) pairs among each page's
          first five tokens, linked when the mention is among the
          ``dict_size`` most frequent (ties by mention);
        * ``entities``: the connected components of the link graph,
          compared as a partition of its nodes (the program's
          ``canonical_id`` is an opaque hash of the component);
        * ``triples``: entity triples plus one ``kg:linkedTo`` triple
          per link, as a multiset.

        Tables are compared by count plus order-independent hash."""
        self._expected_input("documents", docs)
        self.con.execute(f"""
CREATE OR REPLACE TEMP TABLE want_links AS
WITH m AS (SELECT DISTINCT doc, mention FROM (
             SELECT 'doc:' || doc_id AS doc,
                    unnest(({TOKS_SQL})[1:5]) AS mention FROM documents)),
     d AS (SELECT mention FROM m GROUP BY mention
           ORDER BY count(*) DESC, mention LIMIT {self.dict_size})
SELECT doc AS subject, 'dict:' || mention AS object_value
FROM m JOIN d USING (mention)""")
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE want_et AS " + self._cbd_sql(
                self.oracle["pages_extract_triples"],
                "SELECT DISTINCT subject FROM q WHERE subject_kind = 0",
                kinds=True))

        def same(want_sql: str, table: str, cols: str) -> bool:
            got = f"SELECT * FROM {self._files(*tables[table])}"
            return self._digest(got, cols) == self._digest(want_sql, cols)

        ok = {
            "entity_triples": same(
                "SELECT * FROM want_et", "entity_triples",
                "entity, subject, subject_kind::INT, predicate, "
                "object_value, object_kind::INT"),
            "links": same("SELECT * FROM want_links", "links",
                          "subject, object_value"),
            "triples": same("""
SELECT subject, predicate, object_value FROM want_et
UNION ALL
SELECT subject, 'kg:linkedTo', object_value FROM want_links""",
                            "triples", "subject, predicate, object_value"),
        }
        want = _components(
            self.con.execute("SELECT * FROM want_links").fetchall())
        got_rows = self.con.execute(
            "SELECT entity_iri, canonical_id FROM "
            + self._files(*tables["entities"])).fetchall()
        got: Dict[int, set] = {}
        for node, comp in got_rows:
            got.setdefault(comp, set()).add(node)
        ok["entities"] = (len(got_rows) == sum(map(len, want))
                          and set(map(frozenset, got.values())) == want)
        return ok

    # -------------------------------------------------------------- KBO

    def kbo_extract(self, orders: pa.Table, out_dir: str) -> Tuple[bool, int]:
        """Bulk extraction output equals the
        ``kbo_bulk_extract_inverse`` mirror over ``orders``."""
        self._expected_input("orders", orders)
        cols = "entity, subject, predicate, object_value"
        want = self._digest(self.oracle["kbo_bulk_extract_inverse"], cols)
        got = self._digest(f"SELECT * FROM {self._files(out_dir)}", cols)
        return got == want, got[0]

    # --------------------------------------------------------- DESCRIBE

    @staticmethod
    def _cbd_sql(quads_sql: str, ents_sql: str, kinds: bool = False) -> str:
        """Concise bounded description of each entity ``ents_sql``
        yields (one column), over the quads ``quads_sql`` yields (visible
        to ``ents_sql`` as ``q``): the entity's own triples plus,
        recursively, those of the blank nodes they reach."""
        cols = ("q.subject, q.subject_kind, q.predicate, q.object_value, "
                "q.object_kind" if kinds
                else "q.subject, q.predicate, q.object_value")
        return f"""
WITH RECURSIVE q AS ({quads_sql}),
cbd(entity, node) AS (
  SELECT e, e FROM ({ents_sql}) AS ents(e)
  UNION
  SELECT c.entity, q.object_value FROM cbd c
  JOIN q ON q.subject = c.node WHERE q.object_kind = 1)
SELECT DISTINCT c.entity, {cols}
FROM cbd c JOIN q ON q.subject = c.node"""

    def cbd(self, quads_sql: str, entities: Iterable[str]) -> set:
        ents = pa.table({"e": pa.array(sorted(entities), pa.string())})
        self.con.register("ents", ents)
        return set(self.con.execute(
            self._cbd_sql(quads_sql, "SELECT e FROM ents")).fetchall())

    def describe_pages(self, docs: pa.Table, entities: Sequence[str],
                       got: List[tuple]) -> bool:
        self._expected_input("documents", docs)
        want = self.cbd(self.oracle["pages_extract_triples"], entities)
        return len(got) == len(set(got)) and set(got) == want

    def describe_quads(self, quads: pa.Table, entities: Sequence[str],
                       got: List[tuple]) -> bool:
        self._expected_input("quads", quads)
        want = self.cbd("SELECT subject, predicate, object_value, "
                        "object_kind FROM quads", entities)
        return len(got) == len(set(got)) and set(got) == want


def _components(edges: Iterable[tuple]) -> set:
    """Connected components of an undirected edge list, as a set of
    frozensets of nodes."""
    parent: Dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        parent[find(a)] = find(b)
    comps: Dict[str, set] = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    return set(map(frozenset, comps.values()))
