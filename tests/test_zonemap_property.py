"""Hypothesis soundness property for zone-map pruning: whenever
`may_match` says a segment can be skipped, NO row of that segment may
satisfy the mask under EITHER comparison semantics — Spark's
(NaN-greatest total order, NaN = NaN true) or Arrow/IEEE (NaN fails
every comparison) — because both evaluators consume pruned reads.
Pure-python evaluators keep the property fast (no Spark in the loop).
"""

import math

import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from lakota_spark import zonemap
from lakota_spark.schema import Schema

SCHEMA = Schema(i="int*", v="int", f="float", s="str")

_vals_int = st.integers(-20, 20)
_vals_float = st.one_of(
    st.floats(-20, 20, allow_nan=False),
    st.just(float("nan")),
    st.none(),
)
_vals_str = st.one_of(st.text("abc", max_size=3), st.none())

_rows = st.lists(
    st.tuples(_vals_int, st.one_of(_vals_int, st.none()), _vals_float,
              _vals_str),
    min_size=1,
    max_size=8,
)

_col = st.sampled_from(["v", "f", "s"])


def _lit_for(col, draw_int, draw_float, draw_str):
    if col == "v":
        return draw_int
    if col == "f":
        return draw_float
    return draw_str


_cmp_ops = st.sampled_from(["<", "<=", "=", "!=", ">", ">="])

# literals INCLUDE non-finite floats: Spark treats NaN = NaN as true and
# NaN as greatest, so a mask like (= self.f nan) must never prune a
# segment whose rows hold NaN (ADVICE r10 medium — zonemap._comparable
# now rejects non-finite literals, degrading to keep)
_float_lits = st.one_of(
    st.floats(-20, 20, allow_nan=False),
    st.just(float("nan")),
    st.just(float("inf")),
    st.just(float("-inf")),
)


@st.composite
def _plans(draw, depth=2):
    kind = draw(
        st.sampled_from(
            ["cmp", "cmp", "cmp", "in", "isnull"]
            + (["and", "or", "not"] if depth > 0 else [])
        )
    )
    if kind == "cmp":
        col = draw(_col)
        lit = draw(
            st.integers(-20, 20)
            if col == "v"
            else _float_lits
            if col == "f"
            else st.text("abc", max_size=2)
        )
        op = draw(_cmp_ops)
        if draw(st.booleans()):
            return ("cmp", op, ("field", col), ("lit", lit))
        return ("cmp", op, ("lit", lit), ("field", col))
    if kind == "in":
        col = draw(_col)
        vals = draw(
            st.lists(
                st.integers(-20, 20)
                if col == "v"
                else _float_lits
                if col == "f"
                else st.text("abc", max_size=2),
                min_size=1,
                max_size=3,
            )
        )
        return ("in", ("field", col), vals)
    if kind == "isnull":
        return ("isnull", ("field", draw(_col)))
    if kind == "not":
        return ("not", draw(_plans(depth=depth - 1)))
    items = draw(
        st.lists(_plans(depth=depth - 1), min_size=2, max_size=3)
    )
    return (kind, items)


def _cmp_spark(op, a, b):
    """Spark semantics: null -> None (filter drops); NaN greatest,
    NaN == NaN."""
    if a is None or b is None:
        return None
    if isinstance(a, float) or isinstance(b, float):
        an = isinstance(a, float) and math.isnan(a)
        bn = isinstance(b, float) and math.isnan(b)
        if an or bn:
            c = 0 if (an and bn) else (1 if an else -1)
        else:
            c = (a > b) - (a < b)
    else:
        c = (a > b) - (a < b)
    return {
        "<": c < 0, "<=": c <= 0, "=": c == 0,
        "!=": c != 0, ">": c > 0, ">=": c >= 0,
    }[op]


def _cmp_ieee(op, a, b):
    if a is None or b is None:
        return None
    try:
        return {
            "<": a < b, "<=": a <= b, "=": a == b,
            "!=": a != b, ">": a > b, ">=": a >= b,
        }[op]
    except TypeError:
        return None


def _eval(plan, row, cmp_fn):
    kind = plan[0]
    if kind == "cmp":
        _, op, a, b = plan
        av = row[a[1]] if a[0] == "field" else a[1]
        bv = row[b[1]] if b[0] == "field" else b[1]
        return cmp_fn(op, av, bv)
    if kind == "and":
        out = True
        for x in plan[1]:
            v = _eval(x, row, cmp_fn)
            if v is False:
                return False
            if v is None:
                out = None
        return out
    if kind == "or":
        out = False
        for x in plan[1]:
            v = _eval(x, row, cmp_fn)
            if v is True:
                return True
            if v is None:
                out = None
        return out
    if kind == "not":
        v = _eval(plan[1], row, cmp_fn)
        return None if v is None else not v
    if kind == "in":
        av = row[plan[1][1]]
        if av is None:
            return None
        return any(_cmp_ieee("=", av, v) for v in plan[2])
    if kind == "isnull":
        v = row[plan[1][1]]
        return v is None or (isinstance(v, float) and math.isnan(v))
    raise AssertionError(plan)


@settings(max_examples=300, deadline=None)
@given(_rows, _plans())
def test_prune_is_sound_under_both_semantics(rows, plan):
    pdf = pd.DataFrame(rows, columns=["i", "v", "f", "s"])
    zmap = zonemap.compute_from_arrow(
        pa.Table.from_pandas(pdf, preserve_index=False),
        SCHEMA.idx,
        SCHEMA.columns,
    )
    if zmap is None:
        return  # nothing to prune on — trivially sound
    if zonemap.may_match(plan, zmap):
        return  # kept: nothing to prove
    for _, row in pdf.iterrows():
        fv = row["f"]
        d = {
            "v": None if pd.isna(row["v"]) else int(row["v"]),
            # pandas folds None into NaN for float columns; treat it as
            # the VALUE NaN here — the worst case for soundness (a null
            # would only make comparisons null/dropped)
            "f": float(fv) if isinstance(fv, float) else None,
            "s": row["s"] if isinstance(row["s"], str) else None,
        }
        for cmp_fn in (_cmp_spark, _cmp_ieee):
            assert _eval(plan, d, cmp_fn) is not True, (
                plan, d, zmap, cmp_fn.__name__
            )
