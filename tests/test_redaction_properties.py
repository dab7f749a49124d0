"""Property-based tests (hypothesis) for the redaction/trim surface — the
byte-identity invariants of R1-R9 that unit goldens can't exhaustively pin:

- redact/trim/process always return VALID JSON for valid-JSON input (the
  transform is a tree walk, never string surgery on the document body);
- redact and trim are idempotent (a re-redacted report doesn't drift);
- system fields on PRESERVE_PATHS survive redaction byte-identically;
- non-JSON input always comes back byte-identical (parse-failure passthrough,
  LogRedactionUtil catch-all).

These are pure-Python (no Spark session) and fast.
"""

from __future__ import annotations

import json

from hypothesis import example, given, settings
from hypothesis import strategies as st

from mongo_log_parser_spark.functions.redact import (
    process_log_message,
    redact_log_message,
    trim_log_message,
)

# JSON trees of modest depth: scalars, arrays, objects with plausible keys
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=60),
)
keys = st.one_of(
    st.sampled_from(
        ["ns", "filter", "name", "$date", "$oid", "durationMillis", "planSummary",
         "command", "find", "q", "lsid", "txnNumber", "x", "user.email", "$regex"]
    ),
    st.text(min_size=1, max_size=12),
)
json_trees = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(keys, children, max_size=6),
    ),
    max_leaves=20,
)
json_docs = st.dictionaries(keys, json_trees, max_size=8)


@settings(max_examples=200, deadline=None)
@given(json_docs)
def test_redact_outputs_valid_json(doc):
    out = redact_log_message(json.dumps(doc), True)
    json.loads(out)


@settings(max_examples=200, deadline=None)
@given(json_docs)
def test_trim_outputs_valid_json(doc):
    out = trim_log_message(json.dumps(doc))
    json.loads(out)


@settings(max_examples=200, deadline=None)
@given(json_docs)
def test_redact_stabilizes(doc):
    """Redaction converges by the second application. (True idempotence is
    impossible with the reference's digits→9 rule: a float like 1.17e-38
    redacts to 9.99…e-99, which REPARSES to 1e-98 — the number changes once
    more before the all-nines form is a float fixpoint. Same in Java.)"""
    twice = redact_log_message(redact_log_message(json.dumps(doc), True), True)
    assert redact_log_message(twice, True) == twice


def _depth(node) -> int:
    if isinstance(node, dict):
        return 1 + max((_depth(v) for v in node.values()), default=0)
    if isinstance(node, list):
        return 1 + max((_depth(v) for v in node), default=0)
    return 0


@settings(max_examples=200, deadline=None)
@given(json_docs)
def test_process_stabilizes(doc):
    """process converges to a fixpoint within depth(doc)+2 applications.

    NOT plain idempotence: the trim walk (ours AND the reference's —
    LogFilter.java:390 checks childNode.isEmpty() BEFORE recursion can empty
    it) removes one level of a nested-empty-object chain per application, so
    {"a":{"b":{}}} needs one pass per level. Hypothesis found this; the
    reference behaves identically, so the semantics stand and the property is
    convergence-within-depth, plus true stability at the fixpoint."""
    out = json.dumps(doc)
    for _ in range(_depth(doc) + 2):
        out = process_log_message(out, True)
    assert process_log_message(out, True) == out


@settings(max_examples=150, deadline=None)
@given(
    ts=st.datetimes().map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%S.123+00:00")),
    sev=st.sampled_from(["I", "W", "E"]),
    comp=st.sampled_from(["COMMAND", "WRITE", "NETWORK", "TXN"]),
    ctx=st.from_regex(r"conn[0-9]{1,6}", fullmatch=True),
    payload=json_trees,
)
def test_system_fields_preserved(ts, sev, comp, ctx, payload):
    """PRESERVE_PATHS (t/s/c/ctx/id/msg/attr.ns/...) survive byte-identically
    while user values are redacted."""
    doc = {
        "t": {"$date": ts}, "s": sev, "c": comp, "id": 51803, "ctx": ctx,
        "msg": "Slow query",
        "attr": {"ns": "mydb.mycoll", "durationMillis": 42,
                 "command": {"find": "mycoll", "filter": {"user_field": payload}}},
    }
    out = json.loads(redact_log_message(json.dumps(doc), True))
    assert out["t"] == {"$date": ts}
    assert out["s"] == sev and out["c"] == comp and out["ctx"] == ctx
    assert out["id"] == 51803 and out["msg"] == "Slow query"
    assert out["attr"]["ns"] == "mydb.mycoll"
    assert out["attr"]["durationMillis"] == 42
    assert out["attr"]["command"]["find"] == "mycoll"


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200).filter(lambda s: not s.lstrip().startswith("{")))
@example("0 ")  # valid JSON, but not an object: passes through untrimmed
def test_non_json_passthrough(s):
    assert redact_log_message(s, True) == s
    assert process_log_message(s, True) == s
