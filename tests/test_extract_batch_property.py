"""Property test: the column-wise Arrow body ``extract_batch`` equals
the sequential reference ``extract_one`` per document, over generated
span/media layouts — shuffled and tied offsets, duplicate refs, missing
media, null refs, null elements, corrupt content, empty and null lists
(including null lists backed by values) — and on a batch slice with a
non-zero offset."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from handprint_spark.corpus import MEDIA_TYPE, SPAN_TYPE
from handprint_spark.kernels import codec
from handprint_spark.operators.extract import MEDIA_KINDS, extract_batch, extract_one

SPAN_ARROW = to_arrow_type(SPAN_TYPE)
MEDIA_ARROW = to_arrow_type(MEDIA_TYPE)
REFS = ["m0", "m1", "m2", None]
CONTENTS = [
    codec.encode_media("first line"),
    codec.encode_media("second\nline"),
    codec.encode_media("multi", pages=["page one", "page two"], fmt="pdf"),
    codec.encode_media("x")[:10],  # truncated
    b"\x00garbage",
    b"",
    None,
]

_span = st.one_of(st.none(), st.fixed_dictionaries({
    "kind": st.sampled_from(["text", None, *MEDIA_KINDS]),
    "text": st.one_of(st.none(), st.sampled_from(["", "a", "bb c"])),
    "media_ref": st.sampled_from(REFS),
    "offset": st.one_of(st.none(), st.integers(0, 4)),  # few values: many ties
}))
_obj = st.one_of(st.none(), st.fixed_dictionaries({
    "media_ref": st.sampled_from(REFS), "content": st.sampled_from(CONTENTS)}))
# (spans, media, spans null?, media null?): a null list keeps its
# generated values as backing, which the body must skip
_doc = st.tuples(st.lists(_span, max_size=8), st.lists(_obj, max_size=5),
                 st.booleans(), st.booleans())


def _list_array(lists, nulls, typ):
    offsets = np.concatenate([[0], np.cumsum([len(v) for v in lists])]).astype(np.int32)
    values = pa.array([x for v in lists for x in v], typ.value_type)
    return pa.ListArray.from_arrays(pa.array(offsets), values, type=typ,
                                    mask=pa.array(nulls, pa.bool_()))


@settings(max_examples=150, deadline=None)
@given(st.lists(_doc, max_size=8), st.integers(0, 8))
def test_extract_batch_equals_extract_one(docs, start):
    batch = pa.RecordBatch.from_arrays([
        pa.array([f"d{i}" for i in range(len(docs))], pa.string()),
        _list_array([d[0] for d in docs], [d[2] for d in docs], SPAN_ARROW),
        _list_array([d[1] for d in docs], [d[3] for d in docs], MEDIA_ARROW),
    ], names=["doc_id", "spans", "media"]).slice(min(start, len(docs)))
    got = extract_batch(batch).to_pylist()
    exp = [
        extract_one(r["doc_id"], r["spans"], r["media"])
        for r in batch.to_pylist()
    ]
    assert [(r["doc_id"], r["spans"], r["n_media"], r["n_errors"]) for r in got] == exp
