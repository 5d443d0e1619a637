"""Pure-pandas replay oracle: the reference-equivalence ground truth.

Applies the change log in LSN order with exact CDC semantics (last-writer-
wins per (repo, path); delete removes; duplicate (key, lsn) deliveries
ignored; schema changes applied in order). Evolved columns are kept by
position: an upsert fills position i from its column named as in the
schema then in effect (null if the log has no such column), and a later
rename keeps the value in place. Mirrors NiFi's record-processing
integration-test approach (SURVEY.md §5): the mock-harness asserts final
state; here the harness is pandas and the state is the final table.

Tests assert engine output == oracle on (repo, path) with per-row
sha256(content) equality (BASELINE.json input_hint invariant; NiFi analog
HashContent, nifi-nar-bundles/nifi-standard-bundle/nifi-standard-processors/
src/main/java/org/apache/nifi/processors/standard/HashContent.java:56-123).
"""

from __future__ import annotations

import hashlib

import pandas as pd

BASE_COLS = ["repo", "path", "commit", "lang", "content"]


def replay(changelog: pd.DataFrame,
           initial: pd.DataFrame | None = None,
           max_lsn: int | None = None) -> tuple[pd.DataFrame, list[str]]:
    """Replay events with lsn <= max_lsn; returns (final_table, extra_cols)."""
    state: dict[tuple[str, str], dict] = {}
    if initial is not None:
        for r in initial.itertuples(index=False):
            state[(r.repo, r.path)] = {**{c: getattr(r, c) for c in BASE_COLS},
                                       "_x": []}
    extra_cols: list[str] = []
    applied: set[tuple[str, str, int]] = set()
    applied_schema_lsns: set[int] = set()

    ev = changelog if max_lsn is None else changelog[changelog["lsn"] <= max_lsn]
    ev = ev.sort_values("lsn", kind="stable")
    pos = {c: i for i, c in enumerate(ev.columns)}
    for r in ev.itertuples(index=False):
        if r.op == "schema_change":
            if r.lsn in applied_schema_lsns:  # duplicate delivery
                continue
            applied_schema_lsns.add(r.lsn)
            if r.sc_kind == "add_column":
                if r.sc_column not in extra_cols:
                    extra_cols.append(r.sc_column)
            elif r.sc_kind == "rename_column":
                if r.sc_column in extra_cols:
                    extra_cols[extra_cols.index(r.sc_column)] = r.sc_new_name
            continue
        key = (r.repo, r.path)
        sig = (r.repo, r.path, r.lsn)
        if sig in applied:  # duplicate delivery — exactly-once
            continue
        applied.add(sig)
        if r.op == "delete":
            state.pop(key, None)
        else:  # insert | update → upsert
            state[key] = {"repo": r.repo, "path": r.path, "commit": r.commit,
                          "lang": r.lang, "content": r.content,
                          "_x": [r[pos[c]] if c in pos else None
                                 for c in extra_cols]}
    cols = BASE_COLS + extra_cols
    if not state:
        return pd.DataFrame(columns=cols), extra_cols
    out = pd.DataFrame([
        [*(v[c] for c in BASE_COLS),
         *v["_x"], *[None] * (len(extra_cols) - len(v["_x"]))]
        for v in state.values()], columns=cols)
    return out.sort_values(["repo", "path"]).reset_index(drop=True), extra_cols


def content_sha256(df: pd.DataFrame) -> pd.Series:
    return df["content"].map(
        lambda s: hashlib.sha256(s.encode()).hexdigest() if isinstance(s, str) else None)


def assert_equivalent(engine_df: pd.DataFrame, oracle_df: pd.DataFrame) -> None:
    """Per-row equality on (repo,path): sha256(content), commit, lang and
    every evolved column, a null (None, NaN, NA) equal to any other."""
    e = engine_df.sort_values(["repo", "path"]).reset_index(drop=True)
    o = oracle_df.sort_values(["repo", "path"]).reset_index(drop=True)
    assert list(e.columns) == list(o.columns), (list(e.columns), list(o.columns))
    assert len(e) == len(o), (len(e), len(o))
    pd.testing.assert_series_equal(e["repo"], o["repo"], check_names=False)
    pd.testing.assert_series_equal(e["path"], o["path"], check_names=False)
    pd.testing.assert_series_equal(e["commit"], o["commit"], check_names=False)
    pd.testing.assert_series_equal(e["lang"], o["lang"], check_names=False)
    eh, oh = content_sha256(e), content_sha256(o)
    mism = (eh != oh)
    assert not mism.any(), e.loc[mism, ["repo", "path"]].head()
    for c in e.columns[len(BASE_COLS):]:
        ev, ov = ([None if pd.isna(v) else v for v in df[c]] for df in (e, o))
        bad = [r for r in zip(e["repo"], e["path"], ev, ov) if r[2] != r[3]]
        assert not bad, (c, bad[:5])
