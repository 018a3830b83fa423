"""Driver-materialization gate — the fourth plan-hazard class.

`collect()` / `toPandas()` pull a DataFrame onto the DRIVER: fine for
index metadata (k centroids, 256 bucket counts, one argmax row), fatal
for anything corpus-scale (the driver is one process at any cluster
size — "if you're iterating over collect() results, the operator isn't
distributed"). Unlike broadcasts and global windows this hazard is not
reliably visible in plan text (the collect is the ACTION, not an
operator), so this gate audits the SOURCE: an AST sweep of arrow_spark/
enumerates every driver-materialization call site, and the classified
allowlist below records, per (module, function), how many sites exist
and why each input is bounded. A new collect anywhere in the engine
fails until a human writes down the bound (or re-plans distributed).

Companions: test_broadcast_gate.py (corpus-scale broadcast builds),
test_global_window_gate.py (single-partition windows),
test_plan_hazard_zero.py (cartesian / row-wise Python in baselines).
"""

from __future__ import annotations

import ast
import os

import pytest

#: methods that move rows to the driver. `first()`/`head(n)` are
#: excluded by design: their result is ≤ n rows by construction.
MATERIALIZERS = ("collect", "toPandas", "collectAsMap", "toLocalIterator")

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "arrow_spark")

#: (module-relpath, enclosing function) -> (site count, why bounded).
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("table.py", "to_pandas"): (1, "facade API whose CONTRACT is local materialization (pyarrow Table.to_pandas parity) — caller's explicit request"),
    ("table.py", "to_pydict"): (1, "same contract as to_pandas (pyarrow Table.to_pydict parity)"),
    ("operators/ordered.py", "with_partitioned_row_index"): (1, "one count row per PARTITION — cluster-width-bounded index metadata"),
    ("operators/quantiles.py", "_rank_values"): (2, "256-bucket histogram counts + per-bucket min/max — bucket-lattice-bounded"),
    ("llm/tokenize.py", "bpe_train"): (1, "limit(1) argmax — the per-round best merge pair, one row"),
    ("llm/tokenize.py", "read_bpe_vocab"): (1, "persisted vocab table — vocab_size-bounded by the training contract"),
    ("llm/similarity.py", "quantization_params"): (1, "one (min,max) row per embedding DIMENSION — dim-bounded codebook metadata"),
    ("llm/similarity.py", "_nearest_centroids"): (1, "k centroid vectors — index metadata re-entered as literals"),
    ("llm/similarity.py", "ivf_build_index"): (1, "limit(n_clusters) seed vectors — k·dim index metadata"),
    ("llm/similarity.py", "pq_train_codebooks"): (2, "limit(n_codes) seed ids + their m subvectors — m·n_codes·subdim codebook metadata"),
    ("llm/similarity.py", "_lloyd_update"): (1, "per-iteration (key..., pos) means — k·dim (IVF) or m·n_codes·subdim (PQ) driver-side Lloyd state"),
    ("llm/similarity.py", "_collect_codebooks"): (1, "n_subspaces x n_codes codebook vectors — index metadata"),
    ("sources/flight_sql.py", "do_put"): (2, "DML execution trigger (ExecuteUpdate): Spark SQL command frames are empty/row-count-sized — collect() is the action, not a data pull"),
    ("sources/bloom_index.py", "point_lookup"): (1, "bloom-admitted (file, row_group) candidates — file-METADATA-scale, the pruning index's output"),
    ("testing/oracle.py", "run_compare"): (1, "test harness by design — sf-bounded oracle comparison"),
    ("queries/extras.py", "parquet_bloom_point_lookup"): (1, "1-row min() aggregate — the probe key"),
    ("queries/similarity.py", "pinned_lloyd"): (2, "k query vectors + k centroids — the pinned-iteration replay twin's index metadata"),
    ("queries/similarity.py", "similarity_pq_exact_replay"): (1, "3 probe vectors — replay-twin metadata (codebooks come from pinned_lloyd)"),
}


def _sites() -> dict[tuple[str, str], int]:
    found: dict[tuple[str, str], int] = {}
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in MATERIALIZERS
                ):
                    enclosing = [nm for a, b, nm in spans if a <= node.lineno <= (b or a)]
                    key = (rel, enclosing[-1] if enclosing else "<module>")
                    found[key] = found.get(key, 0) + 1
    return found


def test_every_driver_materialization_is_classified():
    found = _sites()
    extra = {k: v for k, v in found.items() if v > ALLOWED.get(k, (0, ""))[0]}
    assert not extra, (
        f"unclassified driver-materialization site(s): {extra} "
        f"(allowed counts: { {k: ALLOWED.get(k, (0, ''))[0] for k in extra} }). "
        "collect()/toPandas() move rows to the ONE driver process — bounded "
        "inputs only (index metadata, bucket lattices, k rows). Classify in "
        "tests/test_driver_collect_gate.py::ALLOWED with a why, or re-plan "
        "the operator distributed."
    )


def test_allowlist_is_not_stale():
    found = _sites()
    stale = {k: v for k, (v, _why) in ALLOWED.items() if found.get(k, 0) != v}
    assert not stale, (
        f"allowlist out of date (classified != found): "
        f"{ {k: (v, found.get(k, 0)) for k, v in stale.items()} } — "
        "update tests/test_driver_collect_gate.py::ALLOWED"
    )


def test_gate_fires_on_new_collect(tmp_path):
    # synthetic negative: the sweep must see a fresh collect() call
    src = "def f(df):\n    return df.groupBy('k').count().collect()\n"
    p = tmp_path / "newop.py"
    p.write_text(src)
    tree = ast.parse(src)
    calls = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in MATERIALIZERS
    ]
    assert len(calls) == 1
