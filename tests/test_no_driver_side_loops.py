"""Static hygiene gate: no driver-side materialization in engine code.

A registered query that calls ``.collect()`` / ``.toPandas()`` /
``.toLocalIterator()`` isn't distributed — at 100 TB it pulls the data
set through the driver. ``first()`` is the same materialization as
``head(1)`` and is forbidden on the same grounds. This AST walk pins the
invariant over every non-test engine module, so a future operator can't
quietly regress it. ``localCheckpoint``/``cache`` are allowed
(cluster-side materialization).

The same walk pins the package's one concurrency primitive: threads are
started only by ``operators/_helpers.overlap``, which joins every leg,
re-raises worker failures and propagates Spark local properties. It also
pins the one session-memo primitive: ``spark._quty_*`` state is touched
only by ``session.py`` (``session_memo`` / ``session_artifact`` /
``reset_memos``). It pins the one scratch-directory policy: no module
but ``session.py`` calls ``tempfile.gettempdir()`` or
``tempfile.mkdtemp()`` (the rest ask ``session_tmp_dir`` /
``fresh_tmp_dir``). It pins the streams' run and sink devices: every
``epoch=<id>`` sink path is built by ``streaming/ops._epoch_writer``, and
every availableNow run in ``streaming/ops.py`` goes through
``_run_available_now``. Every partitioned artifact write (a writer's
``.partitionBy(`` or a ``partitionOverwriteMode`` overwrite) under
``operators/`` and ``streaming/`` goes through ``_helpers.Layout``.
The artifact sidecar names (``_tombstones``, ``_label_homes``,
``_centroids``) are spelled only in ``operators/_helpers.py``, whose
``read_sidecar`` / ``write_sidecar`` do every sidecar read and write.
No batch ``.parquet(`` read is handed a glob: a glob read logs a false
"Assume no metadata directory" warning with a stack trace, so readers
list the directories they read. Every oracle is passed where its query
is registered: nothing but ``plans/registry.py`` assigns to
``registry.oracles[...]``. Finally, the SimHash band CTE and the
recursive ``reach`` component chain are spelled only in their DuckDB
fragment builders in ``operators/dedup.py``, and no oracle is pointed at
another corpus by a ``.replace(`` of a ``FROM documents`` string.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1] / "quty_server_spark"

FORBIDDEN = {"collect", "toPandas", "toLocalIterator", "head", "take", "first"}

# Receivers that are the pyspark.sql.functions module, not a DataFrame:
# F.first(...) is the SQL aggregate, not driver-side materialization.
_FUNCTIONS_ALIASES = {"F", "functions"}


def _is_functions_call(node: ast.Call) -> bool:
    return (
        isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id in _FUNCTIONS_ALIASES
    )

# (module-relative path, enclosing function, method) triples allowed to
# materialize. Every entry must justify why the materialized set is O(1)
# regardless of input scale.
EXEMPT: set[tuple[str, str, str]] = {
    # Both derive micro-batch cut points from a 1-row global MIN/MAX
    # aggregate — the aggregation runs distributed; only the single
    # reduced row crosses to the driver.
    ("quty_server_spark/streaming/ops.py", "stream_watermark_late_drop", "first"),
    ("quty_server_spark/streaming/ops.py", "checkpoint_recovery_run", "first"),
    ("quty_server_spark/streaming/ops.py", "kafka_replay_run", "first"),
    # BSP convergence check: a 1-row SUM(changed) aggregate per superstep
    # whose action also materializes that superstep's lazy checkpoint —
    # only the single count crosses to the driver (the standard
    # driver-coordinated BSP idiom).
    ("quty_server_spark/operators/dedup.py", "min_label_components", "first"),
    # Same BSP idiom: the per-iteration L1 rank delta is a 1-row SUM
    # aggregate whose action also materializes the iteration's lazy
    # checkpoint; only that scalar crosses to the driver.
    ("quty_server_spark/operators/graph.py", "pagerank_converged", "first"),
    # Cleanup of the partitions a dynamic overwrite cannot empty (the
    # retraction, label retraction and shard compaction rewrites): both
    # collects pull DISTINCT partition-key values of the kept and
    # AFFECTED partition sets — bounded by the artifact's partition
    # count (metadata grain: <= 16 passage prefixes, <= IVF_K_MAX
    # cells, <= LABEL_HOME_BUCKETS buckets, N_TRAIN_SHARDS shards),
    # never row-scale.
    ("quty_server_spark/operators/_helpers.py", "replace", "collect"),
    # Trainer-shard compaction's affected list: DISTINCT content-keyed
    # shard ids of the row diff — bounded by N_TRAIN_SHARDS (metadata
    # grain: 8 values), never row-scale.
    (
        "quty_server_spark/operators/pipeline.py",
        "compact_training_shards_inplace",
        "collect",
    ),
}


def _enclosing_function(tree: ast.AST, lineno: int) -> str:
    """Name of the innermost function containing ``lineno`` ('' if none)."""
    best = ""
    best_span = None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            end = node.end_lineno or node.lineno
            if node.lineno <= lineno <= end:
                span = end - node.lineno
                if best_span is None or span < best_span:
                    best, best_span = node.name, span
    return best


def test_no_driver_side_materialization():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in FORBIDDEN
                and not _is_functions_call(node)
            ):
                fn = _enclosing_function(tree, node.lineno)
                if (rel, fn, node.func.attr) in EXEMPT:
                    continue
                hits.append(f"{rel}:{node.lineno} .{node.func.attr}() in {fn}()")
    assert not hits, "driver-side materialization in engine code:\n" + "\n".join(hits)


def test_exemptions_still_exist():
    """Every EXEMPT entry must still match a real call site, so stale
    exemptions can't silently widen the gate."""
    found: set[tuple[str, str, str]] = set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in FORBIDDEN
                and not _is_functions_call(node)
            ):
                found.add((rel, _enclosing_function(tree, node.lineno), node.func.attr))
    assert EXEMPT <= found, f"stale exemptions: {EXEMPT - found}"


# Thread constructors only operators/_helpers.overlap may use.
THREAD_NAMES = {"ThreadPoolExecutor", "InheritableThread", "Thread"}
THREAD_HOME = "quty_server_spark/operators/_helpers.py"


def test_threads_only_in_overlap_helper():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        if rel == THREAD_HOME:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name in THREAD_NAMES:
                hits.append(f"{rel}:{getattr(node, 'lineno', '?')} {name}")
    assert not hits, (
        "threads outside operators/_helpers.overlap:\n" + "\n".join(hits)
    )


# The session-memo helpers own every ``spark._quty_<family>`` attribute.
MEMO_HOME = "quty_server_spark/session.py"


def test_session_memo_state_only_in_session_helper():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        if rel == MEMO_HOME:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                text = node.attr
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = node.value
            else:
                continue
            if "_quty_" in text:
                hits.append(f"{rel}:{node.lineno} {text[:60]!r}")
    assert not hits, (
        "session memo state outside quty_server_spark/session.py:\n"
        + "\n".join(hits)
    )


# The one epoch-keyed sink: every f-string path with ``epoch=`` lives in it.
EPOCH_HOME = ("quty_server_spark/streaming/ops.py", "_epoch_writer")


def test_epoch_paths_only_in_epoch_writer():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        tree = ast.parse(path.read_text(), filename=str(path))
        home = [
            (n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef)
            and (rel, n.name) == EPOCH_HOME
        ]
        for node in ast.walk(tree):
            if not isinstance(node, ast.JoinedStr):
                continue
            if not any(
                isinstance(v, ast.Constant) and "epoch=" in v.value
                for v in node.values
            ):
                continue
            if not any(a <= node.lineno <= b for a, b in home):
                fn = _enclosing_function(tree, node.lineno)
                hits.append(f"{rel}:{node.lineno} in {fn}()")
    assert not hits, (
        "epoch-keyed paths outside streaming/ops._epoch_writer:\n"
        + "\n".join(hits)
    )


# The one scratch-directory policy: only session.py picks a temp root.
SCRATCH_HOME = "quty_server_spark/session.py"
TMP_ROOT_NAMES = {"gettempdir", "mkdtemp"}


def test_scratch_dirs_only_in_session():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        if rel == SCRATCH_HOME:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = node.name
            else:
                continue
            if name in TMP_ROOT_NAMES:
                hits.append(f"{rel}:{getattr(node, 'lineno', '?')} {name}")
    assert not hits, (
        "temp roots outside session.py (use session_tmp_dir / "
        "fresh_tmp_dir):\n" + "\n".join(hits)
    )


# The one bounded-stream runner in streaming/ops.py.
RUNNER_HOME = ("quty_server_spark/streaming/ops.py", "_run_available_now")


def test_available_now_only_in_runner():
    rel = RUNNER_HOME[0]
    tree = ast.parse((ROOT.parent / rel).read_text(), filename=rel)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.keyword) and node.arg == "availableNow":
            where = node.value.lineno
        elif isinstance(node, ast.Attribute) and node.attr == "awaitTermination":
            where = node.lineno
        else:
            continue
        fn = _enclosing_function(tree, where)
        if fn != RUNNER_HOME[1]:
            hits.append(f"{rel}:{where} in {fn}()")
    assert not hits, (
        "availableNow runs outside streaming/ops._run_available_now:\n"
        + "\n".join(hits)
    )


# The one partitioned-artifact writer: ``operators/_helpers.Layout``.
LAYOUT_HOME = ("quty_server_spark/operators/_helpers.py", "Layout")
# ``Window.partitionBy`` / ``W.partitionBy`` is a window spec, not a write.
_WINDOW_NAMES = {"Window", "W"}


def test_partitioned_writes_only_in_layout():
    hits = []
    for sub in ("operators", "streaming"):
        for path in sorted((ROOT / sub).rglob("*.py")):
            rel = str(path.relative_to(ROOT.parent))
            tree = ast.parse(path.read_text(), filename=str(path))
            home = [
                (n.lineno, n.end_lineno)
                for n in ast.walk(tree)
                if isinstance(n, ast.ClassDef) and (rel, n.name) == LAYOUT_HOME
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "partitionBy"
                    and not (
                        isinstance(node.func.value, ast.Name)
                        and node.func.value.id in _WINDOW_NAMES
                    )
                ):
                    what = ".partitionBy("
                elif (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "partitionOverwriteMode" in node.value
                ):
                    what = "partitionOverwriteMode"
                else:
                    continue
                if not any(a <= node.lineno <= b for a, b in home):
                    fn = _enclosing_function(tree, node.lineno)
                    hits.append(f"{rel}:{node.lineno} {what} in {fn}()")
    assert not hits, (
        "partitioned artifact writes outside operators/_helpers.Layout:\n"
        + "\n".join(hits)
    )


# The sidecar names, spelled only where read_sidecar / write_sidecar live.
SIDECAR_HOME = "quty_server_spark/operators/_helpers.py"
SIDECAR_NAMES = ("_tombstones", "_label_homes", "_centroids")


def test_sidecar_names_only_in_helpers():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        if rel == SIDECAR_HOME:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            parts = node.value.strip("/").split("/")
            if any(n in parts for n in SIDECAR_NAMES):
                hits.append(f"{rel}:{node.lineno} {node.value[:60]!r}")
    assert not hits, (
        "sidecar names outside operators/_helpers.py (use read_sidecar / "
        "write_sidecar):\n" + "\n".join(hits)
    )


def _reads_batch(node: ast.AST) -> bool:
    """Whether the receiver chain of a call reaches ``.read`` (a batch
    DataFrameReader; ``readStream``'s file source lists its own glob)."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr == "read":
                return True
            node = node.value
        else:
            node = node.func
    return False


def test_no_glob_parquet_reads():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and _reads_batch(node.func.value)
            ):
                continue
            for arg in node.args:
                for sub in ast.walk(arg):
                    if (
                        isinstance(sub, ast.Constant)
                        and isinstance(sub.value, str)
                        and "*" in sub.value
                    ):
                        fn = _enclosing_function(tree, node.lineno)
                        hits.append(
                            f"{rel}:{node.lineno} {sub.value!r} in {fn}()"
                        )
    assert not hits, (
        "glob parquet reads (list the directories instead):\n"
        + "\n".join(hits)
    )


REGISTRY_HOME = "quty_server_spark/plans/registry.py"


def test_oracles_passed_at_registration():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        if rel == REGISTRY_HOME:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Attribute)
                    and t.value.attr == "oracles"
                ):
                    fn = _enclosing_function(tree, node.lineno)
                    hits.append(f"{rel}:{node.lineno} in {fn}()")
    assert not hits, (
        "oracles assigned after registration (pass oracle= to "
        "registry.query):\n" + "\n".join(hits)
    )


# The DuckDB SimHash fragment builders, and what only they may spell.
FRAGMENT_HOME = "quty_server_spark/operators/dedup.py"
FRAGMENT_PATTERNS = {
    "simhash_band_cte": re.compile(r"AS band_id\)\s*b\b"),
    "component_label_ctes": re.compile(r"reach\s*\(\s*node\s*,\s*lbl\s*\)"),
}


def test_simhash_fragments_only_in_builders():
    hits = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                for home, pat in FRAGMENT_PATTERNS.items():
                    if not pat.search(node.value):
                        continue
                    fn = _enclosing_function(tree, node.lineno)
                    if (rel, fn) != (FRAGMENT_HOME, home):
                        hits.append(f"{rel}:{node.lineno} {home} text in {fn}()")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "replace"
                and any(
                    isinstance(sub, ast.Constant)
                    and isinstance(sub.value, str)
                    and "FROM documents" in sub.value
                    for arg in node.args
                    for sub in ast.walk(arg)
                )
            ):
                fn = _enclosing_function(tree, node.lineno)
                hits.append(f"{rel}:{node.lineno} FROM documents redirect in {fn}()")
    assert not hits, (
        "SimHash SQL fragments outside their builders (call "
        "simhash_band_cte / component_label_ctes, and pass the corpus "
        "name to simhash_sig_ctes):\n" + "\n".join(hits)
    )
