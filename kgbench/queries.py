"""The read-side query mix and its DuckDB replays.

Five SPARQL templates, the shapes ``jobs/kg_query.py --sparql`` serves:
a two-pattern BGP with FILTER, OPTIONAL, GROUP BY with COUNT, a property
path with a ground endpoint, and ASK.  Each template has a DuckDB
replay over the same ``triples`` parquet, with SPARQL set semantics
(``match_bgp`` collapses per-document duplicate assertions).  Ground
terms are drawn with a seeded RNG from values present in the graph.
"""

from __future__ import annotations

import random

CRED = "https://www.w3.org/2018/credentials#"
ISSUER = CRED + "issuer"
EXPIRES = CRED + "expirationDate"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

TEMPLATES = ("bgp_filter", "optional", "group_by", "path", "ask")


def duckdb_triples(triples_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW triples AS SELECT subj, pred, obj, obj_is_iri FROM "
        "read_parquet("
        f"'{triples_dir}/*/*.parquet', hive_partitioning = true)")
    return con


class QueryMix:
    """Seeded query instances over one built graph."""

    def __init__(self, con, rng: random.Random):
        self.con = con
        self.rng = rng
        self.issuers = [r[0] for r in con.execute(
            "SELECT DISTINCT obj FROM triples WHERE pred = ? ORDER BY 1",
            [ISSUER]).fetchall()]
        # (type, issuer) pairs that occur together, so BGP + FILTER and
        # ASK instances always match: an instance that matches nothing
        # runs fewer jobs, and a seed-dependent mix of the two would
        # spread the latency figures across seeds
        self.type_issuer = con.execute(
            "SELECT DISTINCT t.obj, i.obj FROM triples t JOIN triples i "
            "ON t.subj = i.subj WHERE t.pred = ? AND i.pred = ? "
            "ORDER BY 1, 2", [RDF_TYPE, ISSUER]).fetchall()
        self.types = sorted({t for t, _ in self.type_issuer})
        self.creds = [r[0] for r in con.execute(
            "SELECT DISTINCT subj FROM triples WHERE pred = ? "
            "AND subj NOT LIKE '\\_:%' ESCAPE '\\' ORDER BY 1",
            [ISSUER]).fetchall()]
        self._expected: dict[str, list] = {}

    def instance(self, template: str) -> tuple[str, str]:
        """(sparql, duckdb sql) of one seeded instance."""
        r = self.rng
        if template == "bgp_filter":
            t, i = r.choice(self.type_issuer)
            prefix = i[:i.index(":", 4) + 1]
            return (
                f"SELECT ?c ?i WHERE {{ ?c <{ISSUER}> ?i . "
                f"?c <{RDF_TYPE}> <{t}> . "
                f"FILTER(STRSTARTS(STR(?i), \"{prefix}\")) }}",
                "SELECT DISTINCT a.subj, a.obj FROM triples a JOIN triples b "
                f"ON a.subj = b.subj WHERE a.pred = '{ISSUER}' "
                f"AND b.pred = '{RDF_TYPE}' AND b.obj = '{t}' "
                f"AND starts_with(a.obj, '{prefix}')")
        if template == "optional":
            i = r.choice(self.issuers)
            return (
                f"SELECT ?c ?d WHERE {{ ?c <{ISSUER}> <{i}> . "
                f"OPTIONAL {{ ?c <{EXPIRES}> ?d }} }}",
                "SELECT DISTINCT a.subj, b.obj FROM (SELECT DISTINCT subj "
                f"FROM triples WHERE pred = '{ISSUER}' AND obj = '{i}') a "
                "LEFT JOIN (SELECT DISTINCT subj, obj FROM triples "
                f"WHERE pred = '{EXPIRES}') b ON a.subj = b.subj")
        if template == "group_by":
            t = r.choice(self.types)
            return (
                f"SELECT ?i (COUNT(?c) AS ?n) WHERE {{ ?c <{ISSUER}> ?i . "
                f"?c <{RDF_TYPE}> <{t}> }} GROUP BY ?i",
                "SELECT i, count(*) FROM (SELECT DISTINCT a.subj c, a.obj i "
                "FROM triples a JOIN triples b ON a.subj = b.subj "
                f"WHERE a.pred = '{ISSUER}' AND b.pred = '{RDF_TYPE}' "
                f"AND b.obj = '{t}') GROUP BY i")
        if template == "path":
            c = r.choice(self.creds)
            return (
                f"SELECT ?c WHERE {{ ?c <{ISSUER}>/^<{ISSUER}> <{c}> }}",
                "SELECT DISTINCT a.subj FROM triples a JOIN triples b "
                f"ON a.obj = b.obj WHERE a.pred = '{ISSUER}' "
                f"AND b.pred = '{ISSUER}' AND b.subj = '{c}'")
        if template == "ask":
            t, i = r.choice(self.type_issuer)
            return (
                f"ASK {{ ?c <{ISSUER}> <{i}> . ?c <{RDF_TYPE}> <{t}> }}",
                "SELECT EXISTS (SELECT 1 FROM triples a JOIN triples b "
                f"ON a.subj = b.subj WHERE a.pred = '{ISSUER}' "
                f"AND a.obj = '{i}' AND b.pred = '{RDF_TYPE}' "
                f"AND b.obj = '{t}')")
        raise ValueError(f"unknown template {template!r}")

    def schedule(self) -> list[str]:
        """One round: every template once, in seeded order."""
        order = list(TEMPLATES)
        self.rng.shuffle(order)
        return order

    def expected(self, sql: str) -> list:
        if sql not in self._expected:
            self._expected[sql] = _normalize(self.con.execute(sql).fetchall())
        return self._expected[sql]


def _normalize(rows) -> list:
    return sorted(tuple(None if v is None else str(v) for v in row)
                  for row in rows)


def matches(spark_rows, expected: list) -> bool:
    return _normalize(tuple(r) for r in spark_rows) == expected
