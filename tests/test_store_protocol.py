"""The one batch-store commit protocol (streaming/sinks.py) as the
sketch stores use it: a compaction folds the committed state into a
``gen=`` dir, commits it by one atomic ``_MANIFEST`` rename, then
sweeps. Crash injection on both sides of the commit point, replay of a
folded batch id, stores compacted in the older fold-into-highest-dir
layout, and a lint that keeps the ``batch=`` path spelling in sinks.py.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import shutil

import pytest

from sparkstreaming_realtime_project_spark.operators.sketches import (
    hll_registers,
)
from sparkstreaming_realtime_project_spark.streaming import sinks
from sparkstreaming_realtime_project_spark.streaming.incremental import (
    agg_write_batch,
    compact_agg_store,
    compact_hll_store,
    read_agg_totals,
    read_hll_estimate,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "sparkstreaming_realtime_project_spark"

# kind -> (write one batch, compact, read the store's answer)
KINDS = {
    "agg": (
        lambda df, b, root: agg_write_batch(df, b, root, ["key"], "v"),
        lambda spark, root: compact_agg_store(spark, root, ["key"]),
        lambda spark, root: sorted(
            read_agg_totals(spark, root, ["key"]).collect()
        ),
    ),
    "hll": (
        lambda df, b, root: sinks.write_batch(hll_registers(df, "key"), root, b),
        lambda spark, root: compact_hll_store(spark, root),
        lambda spark, root: sorted(read_hll_estimate(spark, root).collect()),
    ),
}


def _batch(spark, b):
    # overlapping, skewed keys across batches
    return spark.range(b * 100, b * 100 + 200).selectExpr(
        "concat('k', cast(id % 16 AS string)) AS key",
        "cast(id % 37 AS double) AS v",
    )


def _store(spark, root, kind, batches):
    write = KINDS[kind][0]
    for b in batches:
        write(_batch(spark, b), b, root)
    return root


def _manifest(root):
    with open(os.path.join(root, "_MANIFEST")) as fh:
        return json.load(fh)


def _boom(*a, **kw):
    raise RuntimeError("injected crash")


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_fold_crash_before_commit_keeps_the_old_answer(
    spark, tmp_path, monkeypatch, kind
):
    """A failure in the manifest commit leaves the written generation
    invisible: reads equal the pre-compaction answer, and a re-run
    commits cleanly."""
    _, compact, read = KINDS[kind]
    root = _store(spark, str(tmp_path / kind), kind, range(3))
    before = read(spark, root)

    monkeypatch.setattr(sinks, "_commit_manifest", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        compact(spark, root)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(root, "gen=0"))  # torn write exists
    assert not os.path.exists(os.path.join(root, "_MANIFEST"))
    assert read(spark, root) == before  # ...but is invisible

    assert compact(spark, root) == os.path.join(root, "gen=0")
    assert _manifest(root) == {"gen": 0, "through_batch": 2}
    assert read(spark, root) == before


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_fold_crash_in_sweep_serves_the_new_generation(
    spark, tmp_path, monkeypatch, kind
):
    """A failure in the sweep happens after the commit: the folded batch
    dirs are still on disk but at or below ``through_batch``, so reads
    come from the generation alone (a reader that also read the
    leftovers would double-count them). The next compaction, with
    nothing new to fold, removes the leftovers."""
    _, compact, read = KINDS[kind]
    root = _store(spark, str(tmp_path / kind), kind, range(3))
    before = read(spark, root)

    monkeypatch.setattr(shutil, "rmtree", _boom)
    with pytest.raises(RuntimeError, match="injected"):
        compact(spark, root)
    monkeypatch.undo()
    assert _manifest(root) == {"gen": 0, "through_batch": 2}
    assert sinks.batch_ids(root) == [0, 1, 2]  # stranded
    assert read(spark, root) == before

    assert compact(spark, root) == os.path.join(root, "gen=0")
    assert sinks.batch_ids(root) == []
    assert sorted(os.listdir(root)) == ["_MANIFEST", "_MANIFEST.v0", "gen=0"]
    assert read(spark, root) == before


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_replayed_folded_batch_is_not_double_counted(spark, tmp_path, kind):
    """Re-running a folded batch id after compaction (a replay against
    an already compacted store) lands at or below ``through_batch`` and
    is ignored; a genuinely new batch still merges, and the next
    compaction sweeps the replayed dir."""
    write, compact, read = KINDS[kind]
    root = _store(spark, str(tmp_path / kind), kind, range(3))
    before = read(spark, root)
    compact(spark, root)

    write(_batch(spark, 1), 1, root)
    assert read(spark, root) == before

    write(_batch(spark, 3), 3, root)
    ref = _store(spark, str(tmp_path / "ref"), kind, range(4))
    assert read(spark, root) == read(spark, ref)
    compact(spark, root)
    assert _manifest(root) == {"gen": 1, "through_batch": 3}
    assert sinks.batch_ids(root) == []
    assert read(spark, root) == read(spark, ref)


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_store_compacted_in_the_fold_into_highest_dir_layout(
    spark, tmp_path, kind
):
    """A store compacted by the older fold-into-highest-dir design — one
    surviving ``batch=<max>`` dir holding the merged state, no manifest
    — reads identically, compacts onto the manifest layout, and takes
    later batches."""
    write, compact, read = KINDS[kind]
    ref = _store(spark, str(tmp_path / "ref"), kind, range(3))
    old = str(tmp_path / "old")
    union = _batch(spark, 0).union(_batch(spark, 1)).union(_batch(spark, 2))
    write(union, 2, old)
    assert read(spark, old) == read(spark, ref)

    write(_batch(spark, 3), 3, old)
    write(_batch(spark, 3), 3, ref)
    assert read(spark, old) == read(spark, ref)
    compact(spark, old)
    assert _manifest(old) == {"gen": 0, "through_batch": 3}
    assert read(spark, old) == read(spark, ref)


def _batch_path_literals(source: str) -> list[int]:
    """Line numbers of string literals (f-string parts included) that
    spell ``batch=``, docstrings excepted."""
    tree = ast.parse(source)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "batch=" in node.value
        and id(node) not in docstrings
    ]


def test_only_sinks_spells_batch_dirs():
    """One batch-store protocol: no streaming or plans module other than
    sinks.py builds a ``batch=`` path or a ``batch=*`` glob — they list,
    write, read and sweep batch dirs through sinks' helpers."""
    assert _batch_path_literals(
        'def f(r, b):\n    """batch=N layout"""\n'
        '    return os.path.join(r, f"batch={b}"), r + "/batch=*"\n'
    ) == [3, 3]
    offenders = {
        path.name: lines
        for path in sorted([*PKG.glob("streaming/*.py"), *PKG.glob("plans/*.py")])
        if path.name != "sinks.py"
        and (lines := _batch_path_literals(path.read_text()))
    }
    assert offenders == {}
