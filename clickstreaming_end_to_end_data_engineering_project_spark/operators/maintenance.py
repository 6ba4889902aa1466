"""Cross-store maintenance entry points for the written-index layouts:
``maintain_index`` (the segment-count compaction policy) and
``forget_ids`` (the right-to-be-forgotten cascade).  The layout table,
the policy, the verbs and their crash orders live in
``operators/segstore.py``; this module only dispatches to it.

The policy ENFORCES the operating rule SCALING.md's r13 compaction
measurements recorded ("append daily, compact on a cadence that bounds
segment count; at ~7 segments probes stay within ~25% of the
single-segment floor, and one compaction pays ~1 store rewrite to
restore it").

``maintain_index`` closes the loop: point it at any of the five
appendable layouts (BM25 / LSH / IVF / PQ / IVFPQ — self-identified by
their params sidecars, so there is no layout argument to get wrong),
and it compacts IFF the segment count exceeds ``max_segments``.
Compaction is a staged swap of the whole root that FOLDS every segment
into ``batch=0``, so the helper inherits the terminal-runs-only rule:
never run it while another job writes the index, nor between an append
and an explicit same-id replay of it — the replay would find no segment
under its own id, take the append path, and stop on the (correct!)
duplicate-id error for rows already folded into ``batch=0``.

No reference counterpart: the reference
(salmansajidsattar/ClickStreaming_End_to_End_Data_Engineering_Project)
has no written-index surface; this module exists for the
LLM-data-pipeline extension mandate's 100 TB serving story.
"""

from __future__ import annotations

from . import segstore


def maintain_index(
    spark, root: str, max_segments: int = 7
) -> "dict[str, object]":
    """Apply the recorded compaction policy to the written index at
    ``root``: if its ``batch=<id>`` segment count exceeds
    ``max_segments`` (default 7 — the SCALING.md r13 operating point:
    probes within ~25% of the single-segment floor), compact it to one
    segment; otherwise do nothing (``segstore.maintain``).  Returns
    ``{"kind", "segments_before", "segments_after", "compacted"}``.
    Raises on a path that is not a recognized index — a silent no-op on
    a typo'd path would read as "maintained".  Terminal-runs-only (see
    the module docstring)."""
    return segstore.maintain(spark, root, max_segments)


def _qualified(spark, path: str) -> str:
    """``path`` as the filesystem names it: scheme, absolute, no
    trailing slash — so two spellings of one directory compare equal."""
    from ..fsutil import fs_for

    _, fs, hpath = fs_for(spark, path)
    return str(fs.makeQualified(hpath).toString()).rstrip("/")


def forget_ids(
    spark,
    ids: "list",
    index_roots: "tuple[str, ...] | list[str]" = (),
    datasets: "tuple[tuple[str, str], ...] | list[tuple[str, str]]" = (),
    id_col_overrides: "dict[str, str] | None" = None,
) -> "dict[str, dict]":
    """Right-to-be-forgotten CASCADE: erase ``ids`` from every given
    written index (layout auto-detected, dispatched to that layout's
    delete verb) and from every ``(parquet_path, id_col)`` dataset
    (staged-swap row rewrite via ``etl.delete_user_data``) — the
    capstone verb over the per-store deletes, for the erasure-request
    case where one id must vanish from the corpus AND every derived
    serving store in one operation.

    Crash/replay discipline: every step is individually crash-safe
    (staged swaps) and IDEMPOTENT (deleting absent ids is a no-op), so
    the cascade's contract is run-to-completion-or-re-run — keep the
    erasure request (the ids) until a full pass completes, exactly the
    GDPR request-log practice.  Derived stores are erased BEFORE the
    datasets: a crash mid-cascade then leaves the corpus row present
    as the discoverable record that the request is unfinished, rather
    than indexes silently serving ids whose source row is already
    gone.

    Returns {("index"|"dataset", target_path): report} with each delete
    verb's own counts plus {"rows_removed": n} per dataset — keys are
    ROLE-NAMESPACED tuples, not bare paths, so a path appearing both as
    an index root and a dataset (or listed twice) can never silently
    overwrite an earlier report entry and hide erasure evidence; a
    duplicate within the same role raises instead.  Raises on an index
    root with no recognized layout (a typo'd path must not read as
    "forgotten").

    Concurrency (r19 optimization round, guide §2.6 "overlap
    independent jobs"): the per-store deletes target DISJOINT roots —
    every staged-swap artifact is path-scoped
    (``<path>.<job>_staging`` / ``.<job>_old``), so two deletes can
    only ever race when aimed at the SAME root, which the duplicate
    validation above rejects.  Index deletes therefore run through a
    small driver thread pool (each delete's own swap sequence stays
    serial inside its thread, preserving the per-store terminal-
    runs-only rename discipline), and the dataset rewrites do the same
    AFTER all index deletes complete — the indexes-before-datasets
    crash ordering the docstring above promises is a barrier between
    the two pools, not a serialization within them.  Failures keep the
    run-to-completion-or-re-run contract: every submitted delete is
    awaited (no store is left mid-swap by an abandoned future — each
    either finished its swaps or never started them), then the first
    failure in input order is re-raised."""
    # validate BEFORE the first delete verb runs: a duplicate or nested
    # target must fail with zero side effects, not after earlier stores
    # were already irreversibly erased.  Roots compare QUALIFIED: "p"
    # and "p/" are one store, and two pooled deletes of it would race.
    for role, paths in (("index root", index_roots), ("dataset", [p for p, _ in datasets])):
        seen: "dict[str, str]" = {}
        for path in paths:
            q = _qualified(spark, path)
            if q in seen:
                raise ValueError(f"forget_ids: {role} listed twice: {path}")
            seen[q] = path
    roots = {_qualified(spark, r): r for r in index_roots}
    for q, root in roots.items():
        for q2, outer in roots.items():
            if q.startswith(q2 + "/"):
                raise ValueError(
                    f"forget_ids: index root {root} is nested under {outer}"
                )

    overrides = id_col_overrides or {}

    # resolve every index verb BEFORE any delete runs: an unrecognized
    # root must fail with zero side effects, same as the duplicate case
    index_jobs = []
    for root in index_roots:
        layout = segstore.detect(spark, root)
        if layout is None:
            raise ValueError(
                f"forget_ids: no recognized written-index layout at {root}"
            )
        index_jobs.append((root, layout))

    def _run_index(job):
        root, layout = job
        id_col = overrides.get(root, layout.id_col)
        res = segstore.delete(layout.kind, spark, root, ids, id_col)
        return ("index", root), {"kind": layout.kind, **res}

    def _run_dataset(ds):
        path, id_col = ds
        from ..etl import delete_user_data

        removed = delete_user_data(spark, path, ids, user_col=id_col)
        return ("dataset", path), {"kind": "dataset", "rows_removed": removed}

    report: "dict[tuple[str, str], dict]" = {}
    report.update(segstore._run(spark, [lambda j=j: _run_index(j) for j in index_jobs]))
    # barrier: datasets start only after every index delete finished
    report.update(segstore._run(spark, [lambda d=d: _run_dataset(d) for d in datasets]))
    return report
