"""Property-based tests (hypothesis) for the exact-semantics kernels —
beyond the reference's test strategy, which has no randomized testing
(SURVEY §5)."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from kgw_spark.functions.informative import is_informative_value
from kgw_spark.sinks.export import _record_to_metta, _walk, clean

scalars = st.one_of(
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=40),
    st.booleans(),
    st.none(),
)
json_values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=10), children, max_size=4),
    ),
    max_leaves=12,
)


def _balanced(line: str) -> bool:
    depth, in_str, esc = 0, False, False
    for ch in line:
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
        elif ch == '"':
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return False
    return depth == 0 and not in_str


@given(json_values)
@settings(max_examples=200, deadline=None)
def test_clean_is_atom_safe(value):
    """clean() output is either a bare number-ish token or a single
    JSON string literal — never an unbalanced / multi-token atom."""
    s = clean(value)
    assert "\n" not in s
    if not s.startswith('"'):
        # bare: must be numeric repr (int/float/bool path)
        assert isinstance(value, (int, float))
    else:
        # quoted: must parse back as one JSON string
        assert isinstance(json.loads(s), str)


@given(
    st.dictionaries(
        st.text(min_size=1, max_size=8),
        st.one_of(scalars, st.lists(scalars, max_size=3)),
        max_size=5,
    )
)
@settings(max_examples=150, deadline=None)
def test_metta_expansion_balanced_and_complete(props):
    """Every s-expression line from the repr3 flattener is balanced,
    and the number of lines equals the number of leaves."""
    record = {0: {"id": "x", "type": "t", "properties": props}}
    lines = _record_to_metta(record)
    for ln in lines:
        assert _balanced(ln), ln
    n_leaves = sum(1 for _ in _walk(record, []))
    assert len(lines) == n_leaves


@given(json_values)
@settings(max_examples=200, deadline=None)
def test_informative_never_raises(value):
    assert is_informative_value(value) in (True, False)


@given(st.lists(st.tuples(st.integers(0, 50), st.integers(0, 50)), max_size=60))
@settings(max_examples=100, deadline=None)
def test_components_kernel_partition_properties(pairs):
    """In-core components kernel (``incore.components``): the labelling
    is idempotent, labels are component minima, and connected nodes
    share a label."""
    import numpy as np

    from kgw_spark.operators.incore import components

    uv = np.array(pairs, np.int64).reshape(-1, 2)
    label = components(uv[:, 0], uv[:, 1], 51)
    for x, c in enumerate(label):
        assert label[c] == c  # canonical maps to itself
        assert c <= x  # min convention
    for a, b in pairs:
        assert label[a] == label[b]


@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=30, deadline=None)
def test_ppm_resize_roundtrip_properties(w, h, seed):
    """PPM codec property: encode∘decode identity."""
    import numpy as np

    from kgw_spark.operators.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


@given(
    st.dictionaries(
        st.text(st.characters(codec="ascii", min_codepoint=32, exclude_characters='"\\'), min_size=1, max_size=6),
        st.text(st.characters(codec="ascii", min_codepoint=32, exclude_characters='"\\'), max_size=8),
        max_size=5,
    ),
    st.dictionaries(
        st.text(st.characters(codec="ascii", min_codepoint=32, exclude_characters='"\\'), min_size=1, max_size=6),
        st.text(st.characters(codec="ascii", min_codepoint=32, exclude_characters='"\\'), max_size=8),
        max_size=5,
    ),
)
@settings(max_examples=25, deadline=None)
def test_merge_json_matches_dict_update(spark, base, ann):
    """_merge_json == dict.update byte-for-byte on flat string objects.

    Scope: printable strings — Spark's to_json emits uppercase unicode
    escapes (\u000B) for control chars where orjson/python emit
    lowercase; parsed values stay identical, bytes differ only there
    (documented deviation)."""
    import json as _json

    from pyspark.sql import functions as F

    from kgw_spark.sources.readers import _jdumps, _merge_json

    df = spark.createDataFrame(
        [( _jdumps(base), _jdumps(ann) )], "props string, ann string"
    )
    got = df.select(_merge_json("props", "ann").alias("m")).first()["m"]
    expected = dict(base)
    expected.update(ann)
    assert _json.loads(got) == expected
    # byte equality whenever the merge path runs (non-trivial sides)
    if base and ann:
        assert got == _jdumps(expected)
