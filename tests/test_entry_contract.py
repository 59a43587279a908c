"""Driver-contract integrity: every query has an oracle, and no dict
literal in __spark_entry__ silently drops an entry via a duplicate key
(later keys win in Python — an easy editing accident to miss)."""

import ast
import json
import os
import pathlib

import __spark_entry__ as entrymod


def test_every_query_has_an_oracle():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert qs == oracles, (
        f"missing oracles: {sorted(qs - oracles)}; "
        f"orphan oracles: {sorted(oracles - qs)}"
    )


def test_no_duplicate_keys_in_contract_dicts():
    src = pathlib.Path(entrymod.__file__).read_text(encoding="utf-8")
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            keys = [k.value for k in node.keys if isinstance(k, ast.Constant)]
            dupes = {k for k in keys if keys.count(k) > 1}
            assert not dupes, f"duplicate dict keys at line {node.lineno}: {dupes}"


def test_query_callables_are_distinct():
    fns = list(entrymod.queries().values())
    assert len(fns) == len(set(fns)), "two query names map to the same callable"


def test_gate_canonicalizer_detects_drift():
    """Meta-test for the driver-gate replica itself: the row
    canonicalization must be column-order-insensitive but VALUE- and
    row-count-sensitive — otherwise a green gate proves nothing."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracles", "/root/repo/scripts/check_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rows = [(1, 0.5, "x"), (2, 0.25, "y")]
    a = mod.norm_rows(["id", "val", "tag"], rows)
    # column permutation with matching values -> identical
    b = mod.norm_rows(["val", "tag", "id"], [(0.5, "x", 1), (0.25, "y", 2)])
    assert a == b
    # a single perturbed float beyond 1e-6 -> different
    c = mod.norm_rows(["id", "val", "tag"], [(1, 0.500001, "x"), (2, 0.25, "y")])
    assert a != c
    # row order must NOT matter; bool/None normalize stably
    d = mod.norm_rows(["id", "val", "tag"], list(reversed(rows)))
    assert a == d
    assert mod.norm_cell(True) == "true" and mod.norm_cell(None) == "None"


def test_bench_defaults_to_the_affinity_cpu_count(monkeypatch, capsys):
    """Without SPARK_GRAFT_CPUS, bench.py runs on the CPUs this process
    may run on, as ``session.get_spark`` does, not a fixed core count."""
    import bench

    calls = []

    def fake_run_once(cores, sf_dir, sf, convs=None):
        calls.append(cores)
        return {"turns": 1, "timings": {"extract_pipeline": 1.0}, "turns_per_sec": 1.0}

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("BENCH_CONVS", raising=False)
    monkeypatch.setattr(bench, "run_once", fake_run_once)
    bench.main()
    assert calls == [len(os.sched_getaffinity(0))]
    assert json.loads(capsys.readouterr().out)["cores"] == calls[0]
