"""Schema evolution: DDL inside batches, add/rename.

A batch commits its DDL and its merge as one version, each event
projected from the schema in effect at its lsn; hand-crafted changelogs
whose data events fill the evolved columns check that against
`oracle.replay`, across batch cuts and crash-replays.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from nifi_spark import fixtures, oracle
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.storage import SnapshotTableStore


def _row(lsn, op, repo=None, path=None, commit=None, lang=None, content=None,
         sc=None):
    return {"lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
            "lang": lang, "content": content,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=lsn),
            "sc_kind": sc[0] if sc else None, "sc_column": sc[1] if sc else None,
            "sc_new_name": sc[2] if sc else None,
            "sc_dtype": sc[3] if sc else None}


@pytest.fixture()
def crafted(tmp_path):
    rows = [
        _row(0, "insert", "o/r1", "a.py", "c0", "python", "v0 of a"),
        _row(1, "insert", "o/r1", "b.py", "c1", "python", "v0 of b"),
        _row(2, "schema_change", sc=("add_column", "stars", None, "string")),
        _row(3, "update", "o/r1", "a.py", "c2", "python", "v1 of a"),
        _row(4, "schema_change", sc=("rename_column", "stars", "stargazers", "string")),
        _row(5, "delete", "o/r1", "b.py"),
        _row(6, "insert", "o/r1", "b.py", "c3", "python", "v1 of b (reborn)"),
        _row(7, "schema_change", sc=("add_column", "license", None, "string")),
        _row(8, "update", "o/r1", "a.py", "c4", "python", "v2 of a"),
    ]
    cl = pd.DataFrame(rows, columns=fixtures.CHANGELOG_COLUMNS)
    p = str(tmp_path / "crafted.parquet")
    fixtures.write_changelog_parquet(cl, p)
    return cl, p


def test_mid_batch_ddl_split_faithful(spark, tmp_path, crafted):
    cl, path = crafted
    store = SnapshotTableStore(str(tmp_path / "t"), n_buckets=2)
    store.init()
    pipe = CdcPipeline(spark=spark, changelog_path=path, store=store,
                       ledger=OffsetLedger(str(tmp_path / "c")),
                       checksum=False)
    stats = pipe.apply_until(8)
    assert stats.schema_events == 3
    assert stats.sub_batches == 4  # 3 DDL boundaries → 4 data sub-batches
    cols = [n for n, _ in store.schema_columns()]
    assert cols == ["repo", "path", "commit", "lang", "content",
                    "stargazers", "license"]
    expected, extras = oracle.replay(cl)
    got = pipe.final_table().toPandas()
    assert list(got.columns) == list(expected.columns)
    oracle.assert_equivalent(got, expected)
    # delete→re-insert in one batch: b.py reborn with c3
    assert got.set_index("path").loc["b.py", "commit"] == "c3"
    # trailing update wins: a.py at c4
    assert got.set_index("path").loc["a.py", "commit"] == "c4"


def test_coalesced_ddl_same_final_state(spark, tmp_path, valued):
    """All DDL in one batch gives the table that a cut before every DDL
    gives, evolved columns included."""
    cl, path = valued
    ddl = cl.loc[cl["op"] == "schema_change", "lsn"].tolist()
    one = _run(spark, tmp_path / "one", path, [8])
    cut = _run(spark, tmp_path / "cut", path, [d - 1 for d in ddl] + [8])
    assert one == cut == _expected(cl)


# ------------- evolved columns that data events fill, under replay -------------

def _write_log(cl: pd.DataFrame, path: str) -> None:
    """The changelog as parquet, any column besides the fixture schema's
    a string column."""
    schema = pa.schema(
        [("lsn", pa.int64()), ("ts", pa.timestamp("us"))]
        + [(c, pa.string()) for c in cl.columns if c not in ("lsn", "ts")])
    pq.write_table(pa.Table.from_pandas(cl, schema=schema,
                                        preserve_index=False), path)


@pytest.fixture()
def valued(tmp_path, crafted):
    """The crafted log with values in the evolved columns, also where an
    event predates its column or its column was renamed away."""
    cl = crafted[0].copy()
    vals = {0: ("s0", None, "l0"), 1: (None, None, "l1"),
            3: ("s3", "g3", "l3"), 6: ("s6", "g6", "l6"),
            8: ("s8", "g8", "l8")}
    for i, c in enumerate(("stars", "stargazers", "license")):
        cl[c] = [vals.get(lsn, (None,) * 3)[i] for lsn in cl["lsn"]]
    path = str(tmp_path / "valued.parquet")
    _write_log(cl, path)
    return cl, path


class _Crash(Exception):
    pass


def _crash_at(pipe: CdcPipeline, point: str) -> None:
    """Make the pipeline's next batch crash. 'ledger': after the table
    commit, in place of the ledger commit. 'merge': inside the batch's
    merge call, which would commit the batch's DDL with its rows."""
    def crash(*a, **kw):
        raise _Crash()
    if point == "ledger":
        pipe.ledger.commit = crash
    else:
        pipe.store.merge = crash


def _run(spark, root, path, bounds, crash=None) -> dict:
    """Apply `bounds` with a fresh store; `crash` = (point, i) crashes
    batch i (see `_crash_at`) and resumes it with a fresh pipeline over
    the same table and ledger. Returns `_table` of the final table."""
    def pipeline():
        return CdcPipeline(spark, path, SnapshotTableStore(str(root / "t")),
                           OffsetLedger(str(root / "l")))
    SnapshotTableStore(str(root / "t")).init()
    pipe = pipeline()
    for i, b in enumerate(bounds):
        if crash and crash[1] == i:
            _crash_at(pipe, crash[0])
            with pytest.raises(_Crash):
                pipe.apply_until(b)
            pipe = pipeline()
        pipe.apply_until(b)
    return _table(pipe.final_table().toPandas())


def _table(df: pd.DataFrame) -> dict:
    """Columns and rows by key, nulls as None, for exact comparison."""
    rows = {(r[0], r[1]): tuple(None if pd.isna(v) else v for v in r)
            for r in df.itertuples(index=False)}
    return {"columns": list(df.columns), "rows": rows}


def _expected(cl: pd.DataFrame) -> dict:
    return _table(oracle.replay(cl)[0])


@pytest.mark.parametrize("point", ["ledger", "merge"])
def test_crash_replay_projects_each_event_from_its_schema(
        spark, tmp_path, valued, point):
    """A DDL batch crashed after its table commit, or inside its merge
    (before the batch's DDL commits), resumes to the uncrashed table:
    after a table commit the replay skips the applied DDL, yet b.py
    (inserted at lsn 6, before `add_column license` at 7) keeps license
    null."""
    cl, path = valued
    want = _run(spark, tmp_path / "clean", path, [8])
    assert want == _expected(cl)
    assert want["rows"][("o/r1", "b.py")][5:] == ("g6", None)
    assert want["rows"][("o/r1", "a.py")][5:] == ("g8", "l8")
    assert _run(spark, tmp_path / "crashed", path, [8], (point, 0)) == want


_EVENTS = st.lists(
    st.tuples(st.sampled_from(["add", "rename", "upsert", "upsert",
                               "delete"]),
              st.integers(0, 7), st.integers(0, 255)),
    min_size=3, max_size=20)


def _log(events) -> pd.DataFrame:
    """A changelog from (kind, k, bits) draws: DDL adds a fresh column
    `cN` or renames an evolved one to a fresh name; a data event upserts
    or deletes key k % 3 and fills column j of every column name the log
    ever uses when bit j % 8 of `bits` is set."""
    extras, names, rows = [], [], []
    for lsn, (kind, k, bits) in enumerate(events):
        if kind in ("add", "rename"):
            new = f"c{len(names)}"
            names.append(new)
            if kind == "rename" and extras:
                old = extras[k % len(extras)]
                extras[extras.index(old)] = new
                sc = ("rename_column", old, new, "string")
            else:
                extras.append(new)
                sc = ("add_column", new, None, "string")
            rows.append((_row(lsn, "schema_change", sc=sc), 0))
        else:
            op = "delete" if kind == "delete" else "update"
            rows.append((_row(lsn, op, "o/r", f"k{k % 3}", f"c{lsn}", "py",
                              f"v{lsn}"), bits))
    return pd.DataFrame([
        {**r, **{n: f"{n}@{r['lsn']}" if bits >> (j % 8) & 1 else None
                 for j, n in enumerate(names)}}
        for r, bits in rows])


@settings(deadline=None, max_examples=8,
          suppress_health_check=list(HealthCheck))
@given(_EVENTS, st.sets(st.integers(0, 19)),
       st.one_of(st.none(), st.tuples(st.sampled_from(["ledger", "merge"]),
                                      st.integers(0, 20))))
def test_any_cuts_and_crash_equal_the_oracle(spark, tmp_path_factory,
                                             events, cuts, crash):
    """Random DDL kinds and positions, data that fills evolved columns,
    deletes and re-inserts across DDL, random batch cuts and an optional
    crash-replay of one batch: the table equals `oracle.replay`."""
    cl = _log(events)
    root = tmp_path_factory.mktemp("prop")
    path = str(root / "log.parquet")
    _write_log(cl, path)
    last = len(events) - 1
    bounds = sorted(c for c in cuts if c < last) + [last]
    if crash:
        crash = (crash[0], crash[1] % len(bounds))
    assert _run(spark, root, path, bounds, crash) == _expected(cl)


def test_evolution_is_metadata_only(spark, tmp_path, crafted):
    """add/rename never rewrite data files (Iceberg-style)."""
    cl, path = crafted
    store = SnapshotTableStore(str(tmp_path / "t3"), n_buckets=2)
    store.init()
    pipe = CdcPipeline(spark=spark, changelog_path=path, store=store,
                       ledger=OffsetLedger(str(tmp_path / "c3")),
                       checksum=False)
    pipe.apply_until(3)  # insert, insert, add_column, update
    v = store.current_version()
    store.evolve("add_column", "homepage", None, "string")
    assert store.current_version() == v + 1
    m = store._load_manifest()
    # bucket data paths unchanged by the evolve commit
    pipe2_cols = [n for n, _ in store.schema_columns()]
    assert "homepage" in pipe2_cols
    got = store.read(spark).toPandas()
    assert got["homepage"].isna().all()  # null backfill on read


def test_rename_replay_is_idempotent(spark, tmp_path):
    store = SnapshotTableStore(str(tmp_path / "t4"), n_buckets=2)
    store.init()
    store.evolve("add_column", "x", None, "string")
    store.evolve("rename_column", "x", "y")
    store.evolve("rename_column", "x", "y")  # replay → no-op
    store.evolve("add_column", "x", None, "string")  # new x after rename ok
    names = [n for n, _ in store.schema_columns()]
    assert names[-2:] == ["y", "x"]
    with pytest.raises(KeyError):
        store.evolve("rename_column", "zz", "q")
    # a rename onto a name the schema has would leave two `y` columns
    with pytest.raises(KeyError):
        store.evolve("rename_column", "x", "y")
    assert [n for n, _ in store.schema_columns()] == names
