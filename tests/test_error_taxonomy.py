"""Error taxonomy parity: every reference error variant the kernel can
hit maps to a stable named ``kind`` (reference: src/encode/error.rs:7-53,
src/decode/error.rs:7-59).

Name mapping where ours differs: ExpectedNodeObject -> ExpectedObject,
ContextProcessing -> ContextError kinds (LoadingDocumentFailed,
ProtectedTermRedefinition, ...).  Variants with no reachable input in
this kernel: MissingContextId (the reference's context_id falls back to
the URL text, src/encode/mod.rs:150-155, so the variant is dead there
too) and InvalidContextIriRef (we pass URL strings through verbatim).
"""

import pytest

from cbor_ld_spark.kernel import (
    CborLdError,
    decode_document,
    encode_document,
    parse_json_document,
)

AS = "https://www.w3.org/ns/activitystreams"


def _kind(fn):
    with pytest.raises(CborLdError) as e:
        fn()
    return e.value.kind


# --- encode family (src/encode/error.rs) ------------------------------------

def test_encode_unknown_compression_table():
    assert _kind(lambda: encode_document(
        {"@context": AS, "type": "Note"}, registry_id=77)) in (
        "UnknownCompressionTable", "UnsupportedRegistryId")


def test_encode_expected_node_object():
    assert _kind(lambda: encode_document(42)) == "ExpectedObject"
    assert _kind(lambda: encode_document("[1, 2]")) == "ExpectedObject"


def test_encode_invalid_context_entry():
    assert _kind(lambda: encode_document(
        {"@context": {"a": "https://x/a"}, "a": 1})) == "InvalidContextEntry"


def test_encode_context_processing():
    assert _kind(lambda: encode_document(
        {"@context": "https://unknown.example/ctx",
         "x": 1})) == "LoadingDocumentFailed"


def test_encode_duplicate_entry():
    assert _kind(lambda: parse_json_document(
        '{"a": 1, "a": 2}')) == "DuplicateEntry"


def test_encode_undefined_term():
    # reference maps MissingKeyTerm -> MissingIdFor for undefined terms
    assert _kind(lambda: encode_document(
        {"@context": AS, "zzz_undefined": 1})) == "MissingIdFor"


def test_encode_invalid_id_kind():
    assert _kind(lambda: encode_document(
        {"@context": AS, "id": 7, "type": "Note"})) == "InvalidIdKind"


def test_encode_invalid_vocab_term_kind():
    assert _kind(lambda: encode_document(
        {"@context": AS, "type": 7})) == "InvalidVocabTermKind"


def test_encode_invalid_id():
    assert _kind(lambda: encode_document(
        {"@context": AS, "id": "not-absolute",
         "type": "Note"})) == "InvalidId"


def test_encode_non_finite_float():
    for bad in (float("inf"), float("-inf"), float("nan")):
        assert _kind(lambda b=bad: encode_document(
            {"@context": AS, "type": "Note", "name": b})) == "NonFiniteFloat"
    # registry 0 (uncompressed) path enforces it too
    assert _kind(lambda: encode_document(
        {"x": float("inf")}, registry_id=0)) == "NonFiniteFloat"


def test_encode_integer_overflow():
    assert _kind(lambda: encode_document(
        {"@context": AS, "type": "Note", "name": 2 ** 64})) \
        == "IntegerOverflow"


def test_parse_rejects_non_json_literals():
    assert _kind(lambda: parse_json_document(
        '{"x": Infinity}')) == "InvalidValue"
    assert _kind(lambda: parse_json_document('{"x": NaN}')) == "InvalidValue"


# --- decode family (src/decode/error.rs) ------------------------------------

def test_decode_cbor_malformed():
    for data in (b"", b"\xff\xff\xff", bytes.fromhex("d90601a1")):
        assert _kind(lambda d=data: decode_document(d)) == "Cbor"


def test_decode_not_cbor_ld():
    assert _kind(lambda: decode_document(b"\x00")) == "NotCborLd"
    assert _kind(lambda: decode_document(
        bytes.fromhex("c2420001"))) == "NotCborLd"  # tag 2, not 0x06xx


def test_decode_unknown_compression_table():
    assert _kind(lambda: decode_document(bytes.fromhex("d9064da0"))) in (
        "UnknownCompressionTable", "UnsupportedRegistryId")


def test_decode_expected_node_object():
    assert _kind(lambda: decode_document(
        bytes.fromhex("d9060105"))) == "ExpectedObject"


def test_decode_undefined_compressed_context():
    assert _kind(lambda: decode_document(
        bytes.fromhex("d90601a10019ffff"))) == "UndefinedCompressedContext"


def test_decode_undefined_compressed_term():
    from cbor_ld_spark.kernel.cbor import CborMap, CborTag, dumps

    # {@context(0): AS as text, unknown term id 0x3333: 1} under tag 0x0601
    data = dumps(CborTag(0x0601, CborMap([(0, AS), (0x3333, 1)])))
    assert _kind(lambda: decode_document(data)) == "UndefinedCompressedTerm"


def test_decode_non_finite_float():
    from cbor_ld_spark.kernel.cbor import CborMap, CborTag, dumps

    # registry 0 (verbatim) payload carrying Infinity
    data = dumps(CborTag(0x0600, CborMap([("x", float("inf"))])))
    assert _kind(lambda: decode_document(data)) == "NonFiniteFloat"


def test_ok_includes_expansion(monkeypatch):
    """``ok`` means the whole kernel pass succeeded, expansion included:
    a document whose expansion raises is a typed error row, whatever
    the third argument of ``_process_one`` and through the Arrow batch
    fn.  (No mounted context reaches the raising expansion paths, so
    expansion is patched.)"""
    import os

    import pyarrow as pa

    import cbor_ld_spark.kernel.expand as expand
    from cbor_ld_spark.functions.udfs import _process_one, kg_process_batches

    def boom(doc):
        raise CborLdError("InvalidIdMapValue", "patched")

    monkeypatch.setattr(expand, "expand_to_triples", boom)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "cbor_ld_spark", "fixtures",
        "samples", "truage.jsonld")
    with open(path) as f:
        content = f.read()
    for flag in (True, False):
        r = _process_one(content, 1, flag)
        assert (r[1], r[3]) == (False, "InvalidIdMapValue"), r
    batch = pa.RecordBatch.from_pydict(
        {"content_sha": ["x"], "content": [content]})
    [out] = list(kg_process_batches()(iter([batch])))
    row = out.to_pylist()[0]
    assert (row["ok"], row["error_kind"]) == (False, "InvalidIdMapValue")
