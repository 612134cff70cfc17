"""Seeded ``repos``-shaped corpus generator with per-row expected outcomes.

Every row is ``(repo, path, commit, lang, content)``, the shape
``sources.load_repos`` reads, plus the outcome the generator *expects*
the pipeline to report for it.  The expectation comes from how the row
was built, never from running the program:

* ``distractor``: source files that are not JSON-LD (``lang`` is not
  ``json``, or a JSON file without ``@context``).  The sniff filter must
  drop them, so they get no ``docs`` row.
* encodable classes (``note``, ``prc``, ``truage``, ``cit``, ``vcb``): the
  vendored sample shapes with seeded ids, dates, names, integers and
  multibase values.  Context URLs are never touched, so each stays
  encodable: ``ok`` true, ``roundtrip_ok`` true.
* must-fail classes: ``truncated`` (a cut-off encodable document,
  ``JSONDecodeError``), ``uncompressible`` (an inline context entry,
  ``InvalidContextEntry``) and ``didKey`` (a context URL that is not
  vendored, ``LoadingDocumentFailed``).

``mode="distinct"`` gives every candidate row its own content.
``mode="dup"`` draws every row's content from a small seeded pool, like
vendored dependencies and forks, so the kernel sees only the pool.
Half of all rows sit in one mega-repo.  The same ``(seed, n_rows, mode)``
always gives the same rows.
"""

from __future__ import annotations

import json
import os
import random
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SAMPLES = os.path.join(ROOT, "cbor_ld_spark", "fixtures", "samples")

MEGA_REPO = "org0/mega"
DISTRACTOR_SHARE = 0.30
MUST_FAIL_SHARE = 0.06
DUP_POOL = 48

ENCODABLE = ("note", "prc", "truage", "cit", "vcb")
MUST_FAIL = {"truncated": "JSONDecodeError",
             "uncompressible": "InvalidContextEntry",
             "didKey": "LoadingDocumentFailed"}

_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_GIVEN = ("JOHN", "MARIA", "WEI", "AMARA", "LUCA", "PRIYA", "OLGA", "KENJI")
_FAMILY = ("SMITH", "GARCIA", "CHEN", "OKAFOR", "ROSSI", "SHARMA", "IVANOVA")
_WORDS = ("ledger", "credential", "graph", "issuer", "token", "proof",
          "schema", "vector", "batch", "holder", "subject", "context")


def _b58(data: bytes) -> str:
    n = int.from_bytes(data, "big")
    out = []
    while n:
        n, r = divmod(n, 58)
        out.append(_B58[r])
    pad = len(data) - len(data.lstrip(b"\0"))
    return "1" * pad + "".join(reversed(out))


def _sample(name: str) -> dict:
    with open(os.path.join(SAMPLES, f"{name}.jsonld"), encoding="utf-8") as f:
        return json.load(f)


class _Shapes:
    """Builds one document of a class from seeded values.

    Issuers and credential subjects come from small pools so entities
    recur across documents and the entity graph has real hubs."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.base = {c: _sample(c) for c in (*ENCODABLE, "uncompressible",
                                              "didKey")}
        self.did_keys = [self._did_key() for _ in range(24)]
        self.did_examples = [f"did:example:{rng.getrandbits(64):016x}"
                             for _ in range(24)]
        self.subjects = [f"did:example:{rng.getrandbits(56):014x}"
                         for _ in range(256)]

    def _did_key(self) -> str:
        return "did:key:z" + _b58(b"\xed\x01" + self.rng.randbytes(32))

    def _mb(self, n: int) -> str:
        return "z" + _b58(b"\x01" + self.rng.randbytes(n - 1))

    def _when(self, lo: int = 2015, hi: int = 2030, z: bool = True) -> str:
        r = self.rng
        s = (f"{r.randint(lo, hi):04d}-{r.randint(1, 12):02d}-"
             f"{r.randint(1, 28):02d}T{r.randint(0, 23):02d}:"
             f"{r.randint(0, 59):02d}:{r.randint(0, 59):02d}")
        return s + "Z" if z else s

    def _text(self, k: int) -> str:
        return " ".join(self.rng.choice(_WORDS) for _ in range(k))

    def build(self, cls: str) -> dict:
        r = self.rng
        d = json.loads(json.dumps(self.base[cls]))
        if cls in ("note", "uncompressible"):
            d["summary"] = f"A note {r.getrandbits(48):012x}"
            d["content"] = self._text(r.randint(3, 12)) + "."
        elif cls == "prc":
            num = r.randint(10_000_000, 99_999_999)
            d["id"] = f"https://issuer.oidp.uscis.gov/credentials/{num}"
            d["identifier"] = str(num)
            d["issuer"] = r.choice(self.did_examples)
            d["issuanceDate"] = self._when()
            d["expirationDate"] = self._when(2030, 2040)
            s = d["credentialSubject"]
            s["id"] = r.choice(self.subjects)
            s["givenName"] = r.choice(_GIVEN)
            s["familyName"] = r.choice(_FAMILY)
            s["gender"] = r.choice(("Male", "Female"))
            s["residentSince"] = self._when(1990, 2020, z=False)
            s["birthDate"] = self._when(1940, 2005, z=False)
            s["lprNumber"] = "-".join(f"{r.randint(0, 999):03d}"
                                      for _ in range(3))
            d["proof"]["created"] = self._when()
        elif cls in ("truage", "cit"):
            vc = d["verifiableCredential"]
            issuer = r.choice(self.did_keys)
            vc["id"] = f"urn:uuid:{uuid.UUID(int=r.getrandbits(128))}"
            vc["issuer"] = issuer
            vc["issuanceDate"] = self._when()
            vc["expirationDate"] = self._when(2030, 2040)
            vc["credentialSubject"]["concealedIdToken"] = self._mb(72)
            if cls == "truage":
                vc["credentialSubject"]["overAge"] = r.randint(16, 25)
            vc["proof"]["created"] = self._when()
            vc["proof"]["verificationMethod"] = \
                f"{issuer}#{issuer.split(':')[-1]}"
            vc["proof"]["proofValue"] = self._mb(64)
        elif cls == "vcb":
            issuer = r.choice(self.did_keys)
            d["issuer"] = issuer
            d["credentialStatus"]["terseStatusListIndex"] = \
                r.randint(0, 2**31)
            d["proof"]["verificationMethod"] = \
                f"{issuer}#{issuer.split(':')[-1]}"
            d["proof"]["proofValue"] = self._mb(64)
        elif cls == "didKey":
            key = self._did_key()
            d["id"] = key
            for vm in d["verificationMethod"] + d["keyAgreement"]:
                vm["controller"] = key
        return d

    def frame(self, doc: dict) -> str:
        """Serialize with one of the framings real files carry."""
        k = self.rng.randrange(5)
        if k == 0:
            return json.dumps(doc, indent=2)
        if k == 1:
            return json.dumps(doc, separators=(",", ":"))
        if k == 2:
            return json.dumps(dict(reversed(list(doc.items()))), indent=1)
        if k == 3:
            return "\ufeff" + json.dumps(doc, indent=2)
        return "\n\t  " + json.dumps(doc, indent=4)


def _distractor(rng: random.Random, i: int) -> tuple[str, str, str]:
    k = rng.randrange(4)
    tag = f"{rng.getrandbits(40):010x}"
    if k == 0:
        return ("rs", "rust",
                f"fn main() {{ println!(\"{tag}\"); }} // not json-ld\n")
    if k == 1:
        return ("py", "python", f"def main():\n    return '{tag}'\n")
    if k == 2:
        return ("md", "markdown", f"# README {tag}\n\nProse, not JSON-LD.\n")
    # JSON without @context: lang passes the sniff, content does not
    return ("json", "json",
            json.dumps({"name": f"pkg-{tag}", "version": f"1.{i % 97}.0"}))


def _candidate(shapes: _Shapes, rng: random.Random) -> tuple[str, str]:
    """(class, content) of one JSON-LD candidate row."""
    u = rng.random() * (1 - DISTRACTOR_SHARE)
    if u < MUST_FAIL_SHARE:
        cls = ("truncated", "uncompressible", "didKey")[rng.randrange(3)]
        if cls == "truncated":
            text = json.dumps(shapes.build(rng.choice(ENCODABLE)), indent=2)
            lo = text.index("@context") + 12
            return cls, text[:rng.randrange(lo, len(text) - 1)]
        return cls, shapes.frame(shapes.build(cls))
    cls = rng.choice(ENCODABLE)
    return cls, shapes.frame(shapes.build(cls))


def expected_outcome(cls: str) -> tuple[bool | None, str | None]:
    """(ok, error_kind) the pipeline must report for a row of a class;
    ``ok`` is None for rows that must get no ``docs`` row at all."""
    if cls == "distractor":
        return None, None
    if cls in MUST_FAIL:
        return False, MUST_FAIL[cls]
    return True, None


def generate(seed: int, n_rows: int, mode: str) -> dict[str, list]:
    """Column dict of ``n_rows`` rows plus ``cls``/``ok``/``error_kind``
    expectation columns.  ``mode`` is ``"distinct"`` or ``"dup"``."""
    if mode not in ("distinct", "dup"):
        raise ValueError(f"unknown corpus mode {mode!r}")
    rng = random.Random(seed)
    shapes = _Shapes(random.Random(rng.getrandbits(64)))
    pool = ([_candidate(shapes, rng) for _ in range(DUP_POOL)]
            if mode == "dup" else None)
    cols: dict[str, list] = {k: [] for k in (
        "repo", "path", "commit", "lang", "content", "cls", "ok",
        "error_kind")}
    for i in range(n_rows):
        if rng.random() < DISTRACTOR_SHARE:
            ext, lang, content = _distractor(rng, i)
            cls = "distractor"
        else:
            cls, content = (rng.choice(pool) if pool is not None
                            else _candidate(shapes, rng))
            ext, lang = "jsonld", "json"
        repo = (MEGA_REPO if rng.random() < 0.5 else
                f"org{rng.randint(1, 7)}/repo{rng.randrange(13)}")
        ok, kind = expected_outcome(cls)
        cols["repo"].append(repo)
        cols["path"].append(f"src/{i:07d}/{cls}.{ext}")
        cols["commit"].append(f"{rng.getrandbits(160):040x}")
        cols["lang"].append(lang)
        cols["content"].append(content)
        cols["cls"].append(cls)
        cols["ok"].append(ok)
        cols["error_kind"].append(kind)
    return cols


REPOS_COLUMNS = ("repo", "path", "commit", "lang", "content")


def write_parquet(cols: dict[str, list], path: str) -> None:
    """Write the ``repos`` columns (not the expectations) as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({k: pa.array(cols[k], type=pa.string())
                      for k in REPOS_COLUMNS})
    pq.write_table(table, path)
