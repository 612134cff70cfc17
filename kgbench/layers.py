"""In-process layer probes for the traced run (no Spark involved).

``kernel_phases`` calls the kernel's public functions in pipeline order
on one document at a time; ``udfs_batch_us`` feeds the same documents to
``kg_process_batches()`` as one Arrow RecordBatch, so the difference is
the cost of the batch boundary: result tuples, triple prefixing and
Arrow column building.  ``kernel_and_batch`` times both on one sample.
"""

from __future__ import annotations

import hashlib
import statistics
import time
from collections import Counter

PHASES = ("parse", "sha", "encode", "decode", "expand")


def kernel_phases(docs: list[str]) -> tuple[dict[str, float], Counter]:
    """Mean µs per document of each phase, and error kinds seen."""
    from cbor_ld_spark.kernel import (
        CborLdError,
        content_sha256,
        decode_document,
        encode_document,
        parse_json_document,
    )
    from cbor_ld_spark.kernel.expand import expand_to_triples

    clock = time.perf_counter
    spent = dict.fromkeys(PHASES, 0.0)
    errors: Counter = Counter()
    for content in docs:
        phase = "parse"
        t = clock()
        try:
            doc = parse_json_document(content)
            if not isinstance(doc, dict):
                raise CborLdError("ExpectedObject", "root is not an object")
            t = _tick(spent, phase, t, clock)
            phase = "sha"
            content_sha256(doc)
            t = _tick(spent, phase, t, clock)
            phase = "encode"
            cbor = encode_document(doc)
            t = _tick(spent, phase, t, clock)
            phase = "decode"
            back = decode_document(cbor)
            t = _tick(spent, phase, t, clock)
            phase = "sha"
            content_sha256(back)
            t = _tick(spent, phase, t, clock)
            phase = "expand"
            expand_to_triples(doc)
            _tick(spent, phase, t, clock)
        except CborLdError as e:
            _tick(spent, phase, t, clock)
            errors[e.kind] += 1
        except Exception as e:  # noqa: BLE001 - the kernel's quarantine
            # maps every other exception to its type name
            _tick(spent, phase, t, clock)
            errors[type(e).__name__] += 1
    n = max(1, len(docs))
    return {p: spent[p] / n * 1e6 for p in PHASES}, errors


def _tick(spent: dict, phase: str, t: float, clock) -> float:
    now = clock()
    spent[phase] += now - t
    return now


def udfs_batch_us(docs: list[str]) -> float:
    """Mean µs per document through ``kg_process_batches()``, fed the
    documents as one batch: a kernel task gets its partition's distinct
    documents in one batch, since a partition holds fewer rows than the
    pipeline's 64k-row Arrow batch limit."""
    import pyarrow as pa

    from cbor_ld_spark.functions.udfs import kg_process_batches

    batch = pa.RecordBatch.from_pydict({
        "content_sha": [hashlib.sha256(c.encode()).hexdigest() for c in docs],
        "content": docs})
    fn = kg_process_batches()
    t = time.perf_counter()
    rows = sum(b.num_rows for b in fn(iter([batch])))
    spent = time.perf_counter() - t
    if rows != len(docs):
        raise RuntimeError(f"kg_process_batches returned {rows} rows "
                           f"for {len(docs)} documents")
    return spent / max(1, len(docs)) * 1e6


def kernel_and_batch(docs: list[str], passes: int
                     ) -> tuple[dict[str, float], Counter, float, float]:
    """Kernel phases and the batch path on the same documents.

    One untimed pass fills the kernel's context and value caches; then
    ``passes`` passes time both probes, alternating which goes first.
    Returns the median µs per document of each phase, the error kinds of
    one pass, the median batch µs per document, and the median over
    passes of batch minus the sum of the phases (the boundary)."""
    kernel_phases(docs)
    phase_runs, batch_runs = [], []
    for i in range(passes):
        for probe in ("phases", "batch") if i % 2 == 0 else ("batch",
                                                             "phases"):
            if probe == "phases":
                phase_runs.append(kernel_phases(docs))
            else:
                batch_runs.append(udfs_batch_us(docs))
    phases = {p: statistics.median(r[0][p] for r in phase_runs)
              for p in PHASES}
    boundary = statistics.median(
        b - sum(r[0].values()) for r, b in zip(phase_runs, batch_runs))
    return (phases, phase_runs[0][1], statistics.median(batch_runs),
            boundary)


def sparql_parse_us(texts: list[str], reps: int) -> float:
    from cbor_ld_spark.operators.sparql import parse_sparql

    t = time.perf_counter()
    for _ in range(reps):
        for q in texts:
            parse_sparql(q)
    return (time.perf_counter() - t) / max(1, reps * len(texts)) * 1e6
