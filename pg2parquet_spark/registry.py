"""Query registry — the single source of truth for the driver contract.

Every implemented operator gets a named entry: a Spark callable
``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible) an equivalent
ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this.

Determinism contract (what makes the driver's order-insensitive value-hash
match): every computed column is (a) integer/string/timestamp arithmetic,
(b) exact DECIMAL arithmetic (all money-ish doubles in the corpus are exact
2-decimal values, so ``CAST(x AS DECIMAL(p,2))`` is lossless), or
(c) a float expression whose evaluation order is fixed and identical in both
engines (e.g. an unrolled dot product). Free-running ``SUM(double)`` is never
compared — partial-aggregation order would make it nondeterministic even
between two Spark runs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query under ``name`` with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _verified_rounds(root) -> tuple[dict[str, int], dict[str, int]]:
    """Map query name -> (newest, FIRST) round whose committed
    CORRECTNESS_r*.json shows it green (hash-matched, or
    rows-only-by-design).

    Queries absent from every round — including brand-new ones — map to
    nothing and therefore sort first under :func:`load_all`'s rotation.
    The first-green map feeds :func:`_group0_cursor`: a name first seen
    green in the newest round was necessarily group 0 when that window ran.
    """
    import json
    import re

    last: dict[str, int] = {}
    first: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, res in rows.items():
            green = res.get("hash_match") is True or (
                res.get("hash_match") is None and res.get("err") == "no_oracle"
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
                first[name] = min(first.get(name, rnd), rnd)
    return last, first


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (registration side effect) and return the registry.

    Ordering policy — mechanical coverage rotation, not hand-picking, and
    CHANGE-AWARE since r7 (see :func:`_rotation_key`): queries that are
    unproven (never driver-green) or whose implementing module changed since
    their last green round sort first, then least-recently-verified, ties
    broken alphabetically.  Under any external gate that samples a prefix of
    the registration order, this routes the riskiest code — new AND
    rewritten — into the next sample window and round-robins the rest.
    The policy is data-driven from the committed artifacts — nothing here
    encodes a preference for particular queries.
    """
    from pathlib import Path

    from pg2parquet_spark import typemap_queries  # noqa: F401
    from pg2parquet_spark import export_queries  # noqa: F401
    from pg2parquet_spark.streaming import queries as streaming_queries  # noqa: F401
    from pg2parquet_spark.operators import (  # noqa: F401
        similarity,
        asof,
        curation,
        dedup,
        features,
        graph,
        sketch,
        skew,
        multimodal,
        text,
        quality,
        layout,
        relational,
    )

    root = Path(__file__).resolve().parent.parent
    verified, first_green = _verified_rounds(root)
    changed = _changed_since_verified(root, REGISTRY, verified)
    cursor = _group0_cursor(verified, first_green)
    ordered = sorted(
        REGISTRY, key=lambda name: _rotation_key(name, verified, changed, cursor)
    )
    return {name: REGISTRY[name] for name in ordered}


def _group0_cursor(
    verified: dict[str, int], first_green: dict[str, int] | None = None
) -> str:
    """Where the LAST driver window's group-0 scan stopped.

    r9 (r8 ADVICE): derive the cursor only from names that were provably
    GROUP 0 when the newest window verified them — i.e. names whose FIRST
    green is that round (never green before ⇒ group 0 by definition). The
    previous derivation (alphabetically-greatest name verified in the newest
    round across BOTH groups) let a late-alphabet group-1 re-verification
    (a 'z...' name) push the cursor past every group-0 member, collapsing
    the rotation back to plain alphabetical. Changed-but-once-proven names
    can't be identified retroactively (the old window's `changed` set is
    gone), so first-greens are the sound subset; when a window verified no
    first-greens the cursor degrades to "" = plain alphabetical, the
    pre-cursor behavior.
    """
    latest = max(verified.values(), default=0)
    if first_green is None:
        first_green = verified
    return max(
        (
            name
            for name, rnd in verified.items()
            if rnd == latest and first_green.get(name) == latest
        ),
        default="",
    )


def _rotation_key(
    name: str, verified: dict[str, int], changed: set[str], cursor: str = ""
):
    """CHANGE-AWARE rotation key (r6 review item). Group 0: queries never
    driver-green OR whose implementing module changed since the round that
    last verified them (git blob ids vs VERIFIED_FINGERPRINTS.json) — their
    last-green round carries no information about the CURRENT code. Within
    the group the order is alphabetical FROM A ROTATING CURSOR (r7 ADVICE:
    plain alphabetical starved late-alphabet members whenever the group
    outgrew the sampled window): names after the alphabetically-greatest
    name the newest round verified come first, then the wrap-around — so a
    persistently large group still cycles completely across successive
    windows, deterministically and with no hand-picking. Within group 0 the
    NEVER-green sort ahead of the changed-but-once-proven: a query with no
    green row on ANY code is strictly riskier than one whose module merely
    drifted (r7: stream_ivf_assign, registered late, sat past the window
    cutoff for a full round behind changed-module backlog). Group 1:
    still-proven queries, least-recently-verified first. The age-only key
    this replaces let the r5 dedup_substring_ngrams rewrite sail past two
    verification windows."""
    rnd = verified.get(name, 0)
    if rnd == 0 or name in changed:
        return (0, 0 if rnd == 0 else 1, 0 if name > cursor else 1, name)
    return (1, rnd, "", name)


def _git_blob_id(path) -> str:
    """Git's content fingerprint of a working-tree file (sha1 of
    ``blob <len>\\0<bytes>``) — comparable to ``git ls-tree`` output without
    invoking git."""
    import hashlib

    data = path.read_bytes()
    return hashlib.sha1(b"blob %d\x00%s" % (len(data), data)).hexdigest()


def _changed_since_verified(
    root, specs: dict[str, QuerySpec], verified: dict[str, int]
) -> set[str]:
    """Names whose implementing CODE differs from what their last
    driver-green round verified. The committed VERIFIED_FINGERPRINTS.json
    (tools/fingerprints.py — derived from the round-close commits) records
    which code each round actually verified. A missing file, round, or
    module entry degrades to 'unchanged' — the pre-r7 age-only ordering.

    Granularity (r8 verdict #3): v2 entries carry per-query SEMANTIC
    fingerprints (``{"blob": ..., "fns": {qname: sha1}}`` — AST-normalized,
    docstrings/comments/``doc=`` stripped, same-module name closure
    included; see :mod:`pg2parquet_spark.fingerprint`), so a comment-only
    edit to ``dedup.py`` no longer re-flags its ~20 queries — that module
    churn is why the group-0 backlog sat at 62 against a target of 35.
    A query absent from the recorded/current ``fns`` (dynamic registration,
    parse failure) and every v1 string entry falls back to the r7/r8
    module-blob comparison — strictly conservative.

    ``root`` locates ONLY the fingerprints artifact; module paths always
    resolve against the live package root (r7 ADVICE: this lets tests point
    at a tmp_path fingerprints file instead of swapping the committed one
    in place, where a hard interruption or parallel load_all() would observe
    or leave a corrupted file)."""
    import inspect
    import json
    from pathlib import Path

    try:
        rounds = json.loads(
            (Path(root) / "VERIFIED_FINGERPRINTS.json").read_text()
        )["rounds"]
    except (OSError, ValueError, KeyError):
        return set()
    pkg_root = Path(__file__).resolve().parent.parent
    current_blob: dict[str, str] = {}
    current_fns: dict[str, dict[str, str] | None] = {}
    changed: set[str] = set()
    for name, spec in specs.items():
        recorded_round = rounds.get(str(verified.get(name, 0)))
        if not recorded_round:
            continue
        try:
            mod_path = Path(inspect.getmodule(spec.fn).__file__).resolve()
            rel = str(mod_path.relative_to(pkg_root))
        except (TypeError, ValueError, AttributeError):
            continue
        recorded = recorded_round.get(rel)
        if recorded is None:
            continue
        rec_blob = recorded if isinstance(recorded, str) else recorded.get("blob")
        rec_fns = recorded.get("fns", {}) if isinstance(recorded, dict) else {}
        if rel not in current_blob:
            current_blob[rel] = _git_blob_id(mod_path)
        if current_blob[rel] == rec_blob:
            continue  # byte-identical module: nothing can have drifted
        if name in rec_fns:
            if rel not in current_fns:
                try:
                    from pg2parquet_spark.fingerprint import module_fingerprints

                    current_fns[rel] = module_fingerprints(
                        mod_path.read_text()
                    )
                except (OSError, SyntaxError):
                    current_fns[rel] = None
            fns = current_fns[rel]
            if fns is not None and name in fns:
                if fns[name] != rec_fns[name]:
                    changed.add(name)
                continue
        # v1 entry, or the query fn isn't statically visible: blob fallback
        changed.add(name)
    return changed
