"""Output checks for one build: documents against the generator's
expectations, and triples against an in-process kernel replay.

Both read the written parquet with DuckDB, so they add no Spark jobs.
Each returned failure is one document, described for the report.
"""

from __future__ import annotations

import random
from collections import Counter


def check_docs(con, out_dir: str, cols: dict[str, list]) -> list[str]:
    """Every candidate row has exactly one ``docs`` row with the expected
    ``ok``/``error_kind`` (and ``roundtrip_ok`` when ok); distractors
    have none."""
    got: dict[tuple, list] = {}
    for repo, path, ok, kind, rt in con.execute(
            "SELECT repo, path, ok, error_kind, roundtrip_ok FROM "
            f"read_parquet('{out_dir}/docs/*/*.parquet', "
            "hive_partitioning = true)").fetchall():
        got.setdefault((repo, path), []).append((ok, kind, rt))
    failures = []
    for repo, path, cls, ok, kind in zip(cols["repo"], cols["path"],
                                         cols["cls"], cols["ok"],
                                         cols["error_kind"]):
        rows = got.pop((repo, path), [])
        if ok is None:
            if rows:
                failures.append(f"{repo}/{path}: distractor has docs rows")
            continue
        if len(rows) != 1:
            failures.append(f"{repo}/{path}: {len(rows)} docs rows")
            continue
        g_ok, g_kind, g_rt = rows[0]
        if g_ok != ok or g_kind != kind or (ok and g_rt is not True):
            failures.append(
                f"{repo}/{path} ({cls}): ok={g_ok} error_kind={g_kind} "
                f"roundtrip_ok={g_rt}, expected ok={ok} error_kind={kind}")
    failures.extend(f"{repo}/{path}: docs row for no input row"
                    for repo, path in got)
    return failures


def _blank(term: str | None) -> str | None:
    # blank-node labels are document-scoped and carry a per-document
    # prefix in the table; compare them as anonymous
    return "_:" if term is not None and term.startswith("_:") else term


def sample_ok_rows(cols: dict[str, list], rng: random.Random,
                   n: int) -> list[int]:
    ok = [i for i, v in enumerate(cols["ok"]) if v]
    return sorted(rng.sample(ok, min(n, len(ok))))


def check_triples(con, out_dir: str, cols: dict[str, list],
                  sample: list[int]) -> list[str]:
    """The triple multiset of each sampled ok document equals an
    in-process ``expand_to_triples`` replay of its content."""
    from cbor_ld_spark.kernel import parse_json_document
    from cbor_ld_spark.kernel.expand import expand_to_triples

    keys = [(cols["repo"][i], cols["path"][i]) for i in sample]
    con.execute("CREATE OR REPLACE TEMP TABLE sample_keys "
                "(repo VARCHAR, path VARCHAR)")
    con.executemany("INSERT INTO sample_keys VALUES (?, ?)", keys)
    got: dict[tuple, Counter] = {k: Counter() for k in keys}
    for row in con.execute(
            "SELECT t.repo, t.path, subj, pred, obj, obj_is_iri, "
            "obj_datatype, obj_lang, graph FROM read_parquet("
            f"'{out_dir}/triples/*/*.parquet', hive_partitioning = true) t "
            "JOIN sample_keys USING (repo, path)").fetchall():
        s, p, o, is_iri, dt, lang, g = row[2:]
        got[(row[0], row[1])][(_blank(s), p, _blank(o) if is_iri else o,
                               is_iri, dt, lang, _blank(g))] += 1
    failures = []
    for i, key in zip(sample, keys):
        want = Counter(
            (_blank(t.subj), t.pred, _blank(t.obj) if t.obj_is_iri else t.obj,
             t.obj_is_iri, t.obj_datatype, t.obj_lang, _blank(t.graph))
            for t in expand_to_triples(parse_json_document(cols["content"][i])))
        if got[key] != want:
            failures.append(f"{key[0]}/{key[1]}: {sum(got[key].values())} "
                            f"triples, replay has {sum(want.values())} "
                            f"({len(got[key] - want)} extra, "
                            f"{len(want - got[key])} missing kinds)")
    return failures
