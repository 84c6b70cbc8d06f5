"""Randomized model check for the O(changed-files) delta commit.

Pure-metadata (no SparkSession, same shim pattern as
tools/bench_meta.py): drives `IceTable._commit_snapshot_delta` with
random interleavings of

    append / remove-subset / append+remove (CoW shape) / truncate /
    add-delete-entries / remove-delete-entries

against a plain-Python model of the live file and delete-entry sets,
asserting after EVERY commit that (a) the in-memory head materializes
exactly the model, (b) a FRESH reload from disk (empty caches — the
full v<N>.json -> manifest list -> manifest chain) materializes the
same, and (c) the persisted snapshot summary records the delta's
added/removed counts. A removed entry the parent's manifests do not
hold raises and commits nothing.
"""

from __future__ import annotations

import random

import pytest

import iceberg_workshop_spark.icetbl.meta as M
from iceberg_workshop_spark.icetbl.table import IceTable

N_SEQUENCES = 6
OPS_PER_SEQ = 14


class _Shim:
    _partition_manifests = IceTable._partition_manifests
    _commit_snapshot_delta = IceTable._commit_snapshot_delta
    _commit_meta = IceTable._commit_meta
    _refresh_meta = IceTable._refresh_meta
    _committer = staticmethod(M.commit)
    _refresher = None


def _entry(i: int) -> dict:
    return {
        "path": f"data/f{i:06d}.parquet",
        "record_count": 7,
        "file_size": 100 + i,
        "partition": {},
        "spec_id": 0,
        "bounds": {"a": [i, i]},
    }


def _del_entry(i: int, dseq: int) -> dict:
    return {
        "path": f"data/eqdel-{i:06d}.parquet",
        "record_count": 1,
        "keys": ["a"],
        "dseq": dseq,
    }


def _head_paths(meta: M.TableMeta) -> set[str]:
    return {f["path"] for f in meta.current_files()}


def _head_del_paths(meta: M.TableMeta) -> set[str]:
    sid = meta.current_snapshot_id
    if sid is None:
        return set()
    return {d["path"] for d in meta.delete_entries(meta.snapshot(sid))}


@pytest.mark.parametrize("seed", range(N_SEQUENCES))
def test_delta_commit_random_interleavings_match_model(tmp_path, seed):
    rng = random.Random(4200 + seed)
    loc = str(tmp_path / f"t{seed}")
    shim = _Shim()
    shim.meta = M.commit(M.TableMeta.empty(loc, "a int", []))

    model_files: set[str] = set()
    model_dels: set[str] = set()
    next_id = [0]

    def fresh_entries(n):
        out = []
        for _ in range(n):
            out.append(_entry(next_id[0]))
            next_id[0] += 1
        return out

    def cur_entries():
        return list(shim.meta.current_files())

    def cur_dels():
        sid = shim.meta.current_snapshot_id
        return (
            list(shim.meta.delete_entries(shim.meta.snapshot(sid)))
            if sid is not None
            else []
        )

    ops = ["append", "remove", "cow", "truncate", "add_del", "rm_del"]
    weights = [5, 3, 3, 1, 2, 1]
    history = []
    for step in range(OPS_PER_SEQ):
        op = rng.choices(ops, weights)[0]
        history.append(op)
        added_n = removed_n = 0
        if op == "append":
            new = fresh_entries(rng.randint(1, 4))
            shim._commit_snapshot_delta(new, [], "append", rebase="blind")
            model_files |= {f["path"] for f in new}
            added_n = len(new)
        elif op == "remove":
            base = cur_entries()
            rm = rng.sample(base, rng.randint(0, min(3, len(base)))) if base else []
            shim._commit_snapshot_delta([], rm, "delete")
            model_files -= {f["path"] for f in rm}
            removed_n = len(rm)
        elif op == "cow":
            base = cur_entries()
            rm = rng.sample(base, rng.randint(0, min(2, len(base)))) if base else []
            new = fresh_entries(rng.randint(1, 2))
            shim._commit_snapshot_delta(new, rm, "update")
            model_files = (model_files - {f["path"] for f in rm}) | {
                f["path"] for f in new
            }
            added_n, removed_n = len(new), len(rm)
        elif op == "truncate":
            removed_n = len(model_files)
            shim._commit_snapshot_delta(
                [], [], "truncate", truncate=True, rebase="blind"
            )
            model_files = set()
        elif op == "add_del":
            dseq = int(
                shim.meta.properties.get("last-sequence-number", "0")
            ) + 1
            dnew = [_del_entry(next_id[0], dseq)]
            next_id[0] += 1
            shim._commit_snapshot_delta(
                [], [], "delete-mor", added_deletes=dnew
            )
            model_dels |= {d["path"] for d in dnew}
        elif op == "rm_del":
            dels = cur_dels()
            rmd = rng.sample(dels, rng.randint(0, min(2, len(dels)))) if dels else []
            shim._commit_snapshot_delta(
                [], [], "rewrite-deletes", removed_deletes=rmd
            )
            model_dels -= {d["path"] for d in rmd}

        # (a) in-memory head == model
        assert _head_paths(shim.meta) == model_files, (seed, step, history)
        assert _head_del_paths(shim.meta) == model_dels, (seed, step, history)
        # (b) fresh reload (empty caches, full persisted chain) == model
        fresh = M.read_current(loc)
        assert _head_paths(fresh) == model_files, (seed, step, history)
        assert _head_del_paths(fresh) == model_dels, (seed, step, history)
        # (c) persisted summary records the delta
        head = fresh.snapshot(fresh.current_snapshot_id)
        s = head["summary"]
        assert s["added_data_files"] == added_n, (seed, step, history)
        assert s["removed_data_files"] == removed_n, (seed, step, history)


def test_unlocatable_removed_entry_raises_and_commits_nothing(tmp_path):
    """A removed entry must be an object of the parent's manifests (the
    commit locates it by identity). A value-equal copy is not: the
    commit raises ValueError naming the path and writes no snapshot,
    instead of committing a "delete" that removes nothing."""
    shim = _Shim()
    shim.meta = M.commit(M.TableMeta.empty(str(tmp_path / "t"), "a int", []))
    shim._commit_snapshot_delta([_entry(i) for i in range(3)], [], "append")
    shim._commit_snapshot_delta(
        [], [], "delete-mor", added_deletes=[_del_entry(9, 2)]
    )
    version = shim.meta.version
    live = shim.meta.current_files()
    dels = shim.meta.current_deletes()
    with pytest.raises(ValueError, match=live[0]["path"]):
        shim._commit_snapshot_delta([], [dict(live[0])], "delete")
    with pytest.raises(ValueError, match=dels[0]["path"]):
        shim._commit_snapshot_delta(
            [], [], "rewrite-deletes", removed_deletes=[dict(dels[0])]
        )
    fresh = M.read_current(str(tmp_path / "t"))
    assert fresh.version == version
    assert _head_paths(fresh) == {f["path"] for f in live}
    assert _head_del_paths(fresh) == {dels[0]["path"]}
    # the entry objects themselves still commit
    shim._commit_snapshot_delta([], [live[0]], "delete")
    assert _head_paths(M.read_current(str(tmp_path / "t"))) == {
        f["path"] for f in live[1:]
    }
