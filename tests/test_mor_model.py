"""Randomized model check for icetbl's merge-on-read delete machinery.

The sequence-number rules in `IceTable._apply_deletes` /
`dml._commit_eq_delete` are the subtlest WRITE-path logic in the
catalog layer (round-10 found a real bug in this family: pruned scans
skipped `_apply_deletes` and resurrected MoR-deleted rows). This test
drives random — but seeded, so deterministic — interleavings of

    append / delete_where_mor / delete_keys_mor / delete_where_pos /
    update_where_mor / merge_into_mor / insert_overwrite /
    rewrite_equality_deletes

against a pure-Python model of the Iceberg v2 semantics and asserts
after EVERY op that `tbl.read()` equals the model exactly, and
(periodically) that a PRUNED `tbl.scan(...)` still applies the
outstanding deletes (the round-10 fix, kept fixed):

- an equality delete removes only rows whose data sequence is
  STRICTLY below the delete's sequence — a key re-inserted later
  survives;
- positional deletes are planned on RAW file positions and bind
  (path, pos), so they compose with equality deletes and never touch
  re-inserted rows;
- update_where_mor is ONE commit: a positional delete of the matched
  visible rows plus their updated images stamped with the commit's
  own sequence — the updated rows must survive every older equality
  delete (seq strictly greater), and a no-match update must not
  commit at all;
- merge_into_mor is the one-commit upsert: every VISIBLE target row
  whose key matches the source is position-masked and replaced by
  the source image (rows hidden by an older equality delete stay
  hidden — planning reads through the delete set), unmatched source
  rows insert; all new rows carry the commit's own sequence;
- insert_overwrite (unpartitioned → whole-table replace) carries
  delete entries forward, but they cannot match the new, higher-seq
  rows;
- rewrite_equality_deletes materializes: visible rows unchanged,
  delete entries dropped.

Every 10th op the table is also exported as real Iceberg
(`export_iceberg`) into a fresh directory and read back through the
foreign dialect (`read_iceberg`): both dialects must agree with each
other and with the model.
"""

from __future__ import annotations

import random

N_SEQUENCES = 5
OPS_PER_SEQ = 10
KEY_SPACE = list(range(8))


def _visible(rows, eq_dels):
    out = []
    for r in rows:
        if any(r["k"] in ks and r["seq"] < dseq for ks, dseq in eq_dels):
            continue
        out.append(r)
    return out


def _read_set(tbl):
    return sorted((row["k"], row["v"]) for row in tbl.read().collect())


def _model_set(rows, eq_dels):
    return sorted((r["k"], r["v"]) for r in _visible(rows, eq_dels))


def _run_sequence(spark, loc, rng, reload_each_step=False):
    """``reload_each_step=True`` re-opens the table from disk through
    a FRESH TableMeta after every op before comparing to the model —
    the in-memory handle's caches (materialized entry lists, manifest
    descriptor lists, idsets) are all discarded, so any divergence
    between what the delta-commit path holds in memory and what the
    serialized v<N>.json -> manifest list -> manifest chain actually
    persists fails here (round-11 hardening for the O(changed-files)
    commit + manifest-list topology)."""
    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        read_iceberg,
    )
    from iceberg_workshop_spark.icetbl.pruning import Pred

    next_v = [0]

    def batch(n):
        out = []
        for _ in range(n):
            out.append((rng.choice(KEY_SPACE), next_v[0]))
            next_v[0] += 1
        return out

    def df_of(pairs):
        return spark.createDataFrame(pairs, "k bigint, v bigint")

    first = batch(6)
    t = IceTable.create_as(spark, loc, df_of(first))
    seq = 1  # create_as commits sequence 1
    rows = [{"k": k, "v": v, "seq": seq} for k, v in first]
    eq_dels = []  # list of (frozenset-of-k, dseq)

    ops = ["append", "del_where", "del_keys", "del_pos", "upd_mor",
           "merge_mor", "overwrite", "rewrite", "compact"]
    weights = [4, 3, 2, 2, 2, 2, 1, 1, 2]
    history = []
    for step in range(OPS_PER_SEQ):
        op = rng.choices(ops, weights)[0]
        history.append(op)
        if op == "append":
            b = batch(rng.randint(1, 5))
            t.append(df_of(b))
            seq += 1
            rows.extend({"k": k, "v": v, "seq": seq} for k, v in b)
        elif op == "del_where":
            cut = rng.randint(0, max(next_v[0] - 1, 0))
            # plan on the VISIBLE view (matches delete_where_mor)
            matched = {
                r["k"] for r in _visible(rows, eq_dels) if r["v"] < cut
            }
            t.delete_where_mor(f"v < {cut}", keys=["k"])
            seq += 1
            eq_dels.append((frozenset(matched), seq))
        elif op == "del_keys":
            ks = frozenset(rng.sample(KEY_SPACE, rng.randint(1, 3)))
            t.delete_keys_mor(df_of([(k, 0) for k in ks]).select("k"),
                              keys=["k"])
            seq += 1
            eq_dels.append((ks, seq))
        elif op == "del_pos":
            m = rng.randint(2, 4)
            res = rng.randint(0, m - 1)
            # plans on RAW current-file rows (eq-hidden rows may be
            # re-recorded; removing them permanently is equivalent)
            t.delete_where_pos(f"v % {m} = {res}")
            seq += 1
            rows = [r for r in rows if r["v"] % m != res]
        elif op == "upd_mor":
            cut = rng.randint(0, max(next_v[0] - 1, 0))
            matched = [
                r for r in _visible(rows, eq_dels) if r["v"] >= cut
            ]
            t.update_where_mor(f"v >= {cut}", {"v": "v + 1000"})
            if matched:  # a no-match update must not commit
                seq += 1
                mv = {r["v"] for r in matched}  # v is unique per row
                rows = [r for r in rows if r["v"] not in mv]
                rows.extend(
                    {"k": r["k"], "v": r["v"] + 1000, "seq": seq}
                    for r in matched
                )
        elif op == "merge_mor":
            ks = rng.sample(KEY_SPACE, rng.randint(1, 3))
            src = [(k, next_v[0] + i) for i, k in enumerate(ks)]
            next_v[0] += len(ks)
            src_v = dict(src)
            vis = _visible(rows, eq_dels)
            vis_keys = {r["k"] for r in vis}
            t.merge_into_mor(df_of(src), on=["k"])
            seq += 1
            matched_ids = {id(r) for r in vis if r["k"] in src_v}
            new_model = [
                {"k": r["k"], "v": src_v[r["k"]], "seq": seq}
                for r in vis
                if r["k"] in src_v
            ] + [
                {"k": k, "v": v, "seq": seq}
                for k, v in src
                if k not in vis_keys
            ]
            rows = [
                r for r in rows if id(r) not in matched_ids
            ] + new_model
        elif op == "overwrite":
            b = batch(rng.randint(2, 5))
            t.insert_overwrite(df_of(b))
            seq += 1
            # unpartitioned: whole table replaced; carried delete
            # entries cannot match the new higher-seq rows
            rows = [{"k": k, "v": v, "seq": seq} for k, v in b]
        elif op == "rewrite":
            t.rewrite_equality_deletes()
            seq += 1
            rows = [dict(r, seq=seq) for r in _visible(rows, eq_dels)]
            eq_dels = []
        elif op == "compact":
            # rewrite_data_files must read THROUGH the deletes and
            # re-stamp survivors at the commit's own sequence; the
            # CARRIED equality deletes then exempt the rewritten rows
            # (seq rule) but would resurrect nothing
            kw = rng.choice(
                [{}, {"sort_by": ["k"]}, {"zorder_by": ["k", "v"]}]
            )
            t.rewrite_data_files(**kw)
            seq += 1
            rows = [dict(r, seq=seq) for r in _visible(rows, eq_dels)]
        checked = (
            IceTable.load(spark, loc) if reload_each_step else t
        )
        native = _read_set(checked)
        assert native == _model_set(rows, eq_dels), (
            f"step {step} op {op} history {history}"
        )
        if step % 10 == 9:
            dest = f"{loc}_iceberg_{step}"
            export_iceberg(checked, dest)
            foreign = sorted(
                (row["k"], row["v"])
                for row in read_iceberg(spark, dest).collect()
            )
            assert foreign == native, (
                f"exported read, step {step} history {history}"
            )
        if step % 3 == 2:
            kpick = rng.choice(KEY_SPACE)
            got = sorted(
                (row["k"], row["v"])
                for row in checked.scan([[Pred("k", "=", kpick)]]).collect()
            )
            want = [
                (k, v)
                for k, v in _model_set(rows, eq_dels)
                if k == kpick
            ]
            assert got == want, (
                f"pruned scan k={kpick} step {step} history {history}"
            )


def test_mor_delete_model_randomized(spark, tmp_path):
    for i in range(N_SEQUENCES):
        rng = random.Random(1000 + i)
        _run_sequence(spark, str(tmp_path / f"mor_model_{i}"), rng)


def test_mor_delete_model_randomized_fresh_reload(spark, tmp_path):
    """Same randomized interleavings, but every post-op check reads
    through a freshly-loaded table handle — pinning that the
    persisted metadata chain (not the writer's caches) carries the
    correct state after every delta commit."""
    for i in range(2):
        rng = random.Random(7000 + i)
        _run_sequence(
            spark,
            str(tmp_path / f"mor_model_r_{i}"),
            rng,
            reload_each_step=True,
        )
