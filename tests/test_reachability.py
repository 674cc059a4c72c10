"""Reachability guard: every top-level def in the package is reached from a
real entry point, or is on the short KEEP list below with its reason.

Roots (a real entry point is one of):

- a ``@register`` / ``@register_extended`` query, decorator included, so
  the oracle it names is reached too;
- ``Pipeline`` and its methods;
- ``main.py`` and ``demo.py``;
- ``bench.py`` and ``__spark_entry__.py``;
- the non-test files of ``perfbench/``;
- module-level code, not counting ``__all__`` and imports.

Edges are the ``Name`` and ``Attribute`` identifiers in a def's AST plus its
identifier-shaped string constants; docstrings and comments do not count.
An import alias (``import x as y``) is an edge from ``y`` to ``x``.
A top-level def is reached when its name is among the identifiers of a root
or of another reached def (fixpoint).

Matching is by bare name, not by resolved module, so any same-named
identifier anywhere in reached code counts as a use. That overstates reach:
the unreached set reported here is a lower bound on the dead code.

Pure AST: no Spark, no package import.
"""

from __future__ import annotations

import ast
import fnmatch
import functools
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "iot_sensor_data_pipeline_spark"

#: ``"<path under the package>:<def name>"`` (``fnmatch`` patterns) of defs
#: that no entry point reaches but that stay, each with its reason. Every
#: entry must be needed: one that an entry point or another entry already
#: reaches fails ``test_every_keep_entry_is_needed``.
KEEP: dict[str, str] = {
    "streaming/jobs.py:start_cdc_apply": (
        "differential reference for start_cdc_apply_bucketed, which bench.py reaches"
    ),
    "streaming/jobs.py:read_cdc_snapshot": (
        "reader of the start_cdc_apply reference snapshot"
    ),
    "streaming/jobs.py:read_cdc_snapshot_bucketed*": (
        "readers of the snapshot start_cdc_apply_bucketed writes"
    ),
    "streaming/jobs.py:validate_cdc_snapshot": (
        "fsck of the snapshot start_cdc_apply_bucketed writes"
    ),
    "streaming/jobs.py:rebucket_cdc_snapshot": (
        "layout-mismatch recovery of start_cdc_apply_bucketed's snapshot"
    ),
    "sources/sinks.py:read_compacted_through": (
        "reader tests use to verify what parquet_batch_sink and OPTIMIZE wrote"
    ),
    "sources/sinks.py:read_sink_as_of": (
        "reader tests use to verify what parquet_batch_sink wrote"
    ),
    "sources/sinks.py:list_sink_epochs": (
        "reader tests use to verify what parquet_batch_sink wrote"
    ),
    "sources/sinks.py:newest_epoch_files": (
        "reader tests use to verify what parquet_batch_sink wrote"
    ),
    "sources/manifest.py:read_pruned": (
        "reader tests use to verify the manifest write_manifest keeps"
    ),
    "sources/manifest.py:_manifest_versions": (
        "reader tests use to verify the manifest versions update_manifest commits"
    ),
    "sources/bloom_index.py:read_pruned_bloom": (
        "reader tests use to verify the bloom index write_bloom_index keeps"
    ),
    "sources/matview.py:read_agg_quantiles": (
        "reader tests use to verify the histogram bins refresh_agg_view maintains"
    ),
    "sources/mutations.py:table_checksum": (
        "check tests use to verify the tables the mutation writers rewrite"
    ),
    "sources/mutations.py:verify_replica": (
        "check tests use to verify replicas the mutation writers keep"
    ),
    "plans/audit.py:*": (
        "plan auditor, to be wired into the running pipeline's event stream"
    ),
    "streaming/metrics.py:*": (
        "micro-batch metrics, to be wired into the running pipeline's event stream"
    ),
    "operators/dedup.py:duplicate_clusters_star": (
        "large-star/small-star candidate to replace duplicate_clusters' label propagation"
    ),
    "operators/similarity.py:ann_recall_report": (
        "ANN recall@k against exact kNN, the planned check for the ANN gate queries"
    ),
    # Library operators that no query calls yet but whose own tests stay in
    # the default tier. Each one either gets a registered query or goes with
    # its tests in a later change.
    "functions/text.py:lang_id": "stopword-vote language id, tested on real sentences",
    "functions/text.py:winnow_fingerprints": (
        "winnowing fingerprints with the shared-substring guarantee its tests pin"
    ),
    "operators/curation.py:filter_by_domain_stats": "domain filter over domain_stats",
    "operators/curation.py:pack_sequences": "sequence packing into fixed-capacity bins",
    "operators/dedup.py:estimated_jaccard_pairs": "MinHash Jaccard estimate per pair",
    "operators/drift.py:schema_drift": "schema-level complement of drift_report",
    "operators/joins.py:range_join": "bucketized point-in-interval equi-join",
    "operators/merge.py:upsert_snapshot": "upsert of a change log into a snapshot",
    "operators/merge.py:diff_summary": "per-kind counts of snapshot_diff",
    "operators/multimodal.py:sniff_format": "magic-byte payload format sniffing",
    "operators/multimodal.py:frame_sample": "video frame sampling",
    "operators/multimodal.py:repartition_for_payload": "payload-size-aware repartitioning",
    "operators/ngram_lm.py:perplexity_filter": "threshold gate over score_perplexity",
    "operators/quality.py:compression_ratio": "repetition score by compression ratio",
    "operators/quality.py:quality_importance_filter": "importance-sampled quality filter",
    "operators/similarity.py:cosine": "cosine similarity column primitive",
    "operators/similarity.py:ivf_assign": "incremental IVF assignment without retraining",
    "operators/similarity.py:recommended_n_planes": "LSH plane-count sizing rule",
    "operators/sketches.py:distinct_sketches": "mergeable HLL distinct-count sketches",
    "operators/sketches.py:merge_distinct_counts": "merge of distinct_sketches partials",
    "operators/sketches.py:histogram_bins": "fixed histogram edges per column",
    "operators/sketches.py:merge_histogram_quantiles": "quantiles from merged histograms",
    "operators/skew.py:salted_*": "salted join and aggregation for skewed keys",
    "sources/json_ingest.py:ingest_readings_variant": "schema-less VARIANT ingest",
    "sources/json_ingest.py:serialize_json": "Kafka wire-format serializer",
    "sources/synthetic.py:reading_*stream": "rate-source reading streams",
}

ROOT_FILES = ("main.py", "demo.py")
REGISTER_DECORATORS = frozenset({"register", "register_extended"})
ROOT_CLASSES = frozenset({"Pipeline"})
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _identifiers(node: ast.AST, docstrings: set[int]) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docstrings
            and _IDENT.match(n.value)
        ):
            out.add(n.value)
    return out


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id in REGISTER_DECORATORS:
            return True
    return False


def _is_all(stmt: ast.stmt) -> bool:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


@functools.cache
def _index():
    """Parse once: ``(units, edges, roots)`` where ``units`` maps
    ``"<path>:<name>"`` to its line count, ``edges`` maps it (and every
    import alias) to the identifiers it reaches, and ``roots`` holds the
    identifiers of every root outside the KEEP list."""
    units: dict[str, int] = {}
    edges: dict[str, frozenset[str]] = {}
    aliases: dict[str, set[str]] = {}
    roots: set[str] = set()
    entry_files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    entry_files += sorted((REPO / "perfbench").glob("*.py"))
    for path in [*sorted(PKG.rglob("*.py")), *entry_files]:
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    if alias.asname:
                        aliases.setdefault(alias.asname, set()).add(alias.name.rsplit(".", 1)[-1])
        if not path.is_relative_to(PKG):
            roots |= _identifiers(tree, docs)
            continue
        rel = path.relative_to(PKG).as_posix()
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                key = f"{rel}:{stmt.name}"
                first = min([stmt.lineno, *(d.lineno for d in stmt.decorator_list)])
                units[key] = stmt.end_lineno - first + 1
                edges[key] = frozenset(_identifiers(stmt, docs) | {stmt.name})
                if path.name in ROOT_FILES or _is_registered(stmt) or stmt.name in ROOT_CLASSES:
                    roots |= edges[key]
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not _is_all(stmt):
                roots |= _identifiers(stmt, docs)
    edges.update((name, frozenset(targets)) for name, targets in aliases.items())
    return units, edges, frozenset(roots)


def unreached(keep=KEEP) -> list[str]:
    """Sorted ``"<path>:<name>"`` of the top-level defs that neither a root
    nor a ``keep`` pattern reaches."""
    units, edges, roots = _index()
    by_name: dict[str, list[str]] = {}
    for key in edges:
        by_name.setdefault(key.rsplit(":", 1)[-1], []).append(key)
    reached = set(roots)
    for key in units:
        if any(fnmatch.fnmatchcase(key, pat) for pat in keep):
            reached |= edges[key]
    todo = list(reached)
    while todo:
        for key in by_name.get(todo.pop(), ()):
            new = edges[key] - reached
            reached |= new
            todo.extend(new)
    return sorted(k for k in units if k.rsplit(":", 1)[-1] not in reached)


def test_every_top_level_def_is_reached():
    units, _, _ = _index()
    dead = unreached()
    assert not dead, (
        f"{len(dead)} top-level defs ({sum(units[k] for k in dead)} lines) "
        "are reached from no entry point; delete them with their tests, or give "
        "them an entry point:\n  " + "\n  ".join(dead)
    )


def test_every_keep_entry_is_needed():
    units, _, _ = _index()
    for pattern in KEEP:
        assert any(fnmatch.fnmatchcase(k, pattern) for k in units), (
            f"KEEP entry {pattern!r} matches no top-level def; remove it"
        )
        dead = unreached([p for p in KEEP if p != pattern])
        assert any(fnmatch.fnmatchcase(k, pattern) for k in dead), (
            f"KEEP entry {pattern!r} is reached without it; remove it"
        )
