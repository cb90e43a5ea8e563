"""merge_upsert — the reference's core write semantic (SURVEY.md §2 K3).

The reference implements upsert as a per-row exists-probe
(`SELECT COUNT(*) WHERE key = %s`, /root/reference/load_sales_data.py:35-40)
branching to UPDATE or INSERT (load_sales_data.py:129-134). When a
source batch contains the same key twice, the second occurrence hits
the update branch, so the reference's effective policy is
**last-writer-wins by row arrival order**.

Set-oriented Spark equivalent (one job, no per-row round-trips):

1. dedup the source to one row per key — last writer wins, ordered by
   an explicit ``order_col`` (the reference's implicit arrival order is
   made explicit, per SURVEY.md §7 "merge determinism");
2. anti-join the target against the source keys (rows the batch does
   not touch);
3. union the deduped source back in.

Scale notes (100 TB): step 2's join shuffles both sides on the key;
when the target is date-partitioned and the source covers few
partitions (the reference's daily yesterday..today window), restrict
the target scan to those partitions first — ``merge_upsert`` takes an
optional ``partition_pred`` for exactly this, turning a full-table
rewrite into a touched-partitions rewrite (the Delta/Iceberg MERGE
pattern without the table format). The window dedup and the anti-join
share the same key partitioning, so AQE can reuse the exchange.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_job_spark.sql import _qualifier, _sub_outside_spans

#: prefix under which the joined-row namespace exposes source columns to
#: expression-mode ``update_cols`` (``source.c`` in user SQL → this)
_SRC = "__src_"


def _rewrite_source_refs(expr: str, source_cols: Sequence[str]) -> str:
    """Rewrite ``source.<col>`` qualifiers (outside SQL literals,
    comments and backticked names) to the joined-row namespace
    (``__src_<col>``); raise if a referenced source column doesn't
    exist. Bare names stay bare — they resolve to TARGET columns after
    the marker join."""
    def _ref(m: re.Match) -> str:
        # membership is case-insensitive (Spark resolves column names
        # case-insensitively; source.C must find column c) — the
        # rewrite uses the ACTUAL source column's spelling, the name
        # the joined-frame alias carries
        want = m.group(2).casefold()
        actual = next((c for c in source_cols if c.casefold() == want), None)
        if not want or actual is None:
            raise ValueError(
                f"update expression {expr.strip()!r} references "
                f"source.{m.group(2) or '?'} which is not a "
                f"source column (have {sorted(source_cols)})"
            )
        return _SRC + actual

    return _sub_outside_spans(_qualifier("source") + r"(\w*)", _ref, expr)


def dedup_last_writer(source: DataFrame, keys: Sequence[str], order_col: str) -> DataFrame:
    """Keep one row per key: the one with the greatest ``order_col``
    (ties broken deterministically by preferring later rows is not
    observable — equal order values pick an arbitrary-but-stable row
    via the extra ordering on all key columns already fixed)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(order_col).desc())
    return (
        source.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    partition_pred: Column | None = None,
) -> DataFrame:
    """Return target merged with source on ``keys`` (source wins).

    ``order_col``: column in ``source`` defining last-writer-wins for
    intra-batch duplicate keys. If None, the source must already be
    unique per key (enforced lazily by the window only when given).

    ``partition_pred``: predicate selecting the target partitions the
    source can possibly touch; rows outside it pass through untouched
    (concat, no join) — the at-scale fast path.
    """
    if order_col is not None:
        source = dedup_last_writer(source, keys, order_col)
    # align to the target's column set/order: drop source-only columns
    # (e.g. an order_col), and null-fill target-only columns (e.g.
    # enrichment columns a later pass re-derives) with the target dtype
    target_types = dict(target.dtypes)
    source = source.select(
        *[
            F.col(c) if c in source.columns else F.lit(None).cast(target_types[c]).alias(c)
            for c in target.columns
        ]
    )

    if partition_pred is not None:
        untouched = target.filter(~partition_pred)
        target = target.filter(partition_pred)
        kept = target.join(source, on=list(keys), how="left_anti")
        return untouched.unionByName(kept).unionByName(source)

    kept = target.join(source, on=list(keys), how="left_anti")
    return kept.unionByName(source)


def _strip_source_qualifier(expr: str) -> str:
    """Rewrite ``source.<col>`` → ``<col>`` outside SQL literals,
    comments and backticked names — for predicates evaluated directly
    over a bare SOURCE-row frame (the insert condition), where columns
    keep their own names."""
    return _sub_outside_spans(_qualifier("source"), lambda m: "", expr)


def merge_clauses(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    update_cols: Sequence[str] | Mapping[str, str] | None = None,
    delete_pred: Column | str | None = None,
    insert_unmatched: bool = True,
    not_matched_by_source_delete: Column | str | bool = False,
    not_matched_by_source_update: Mapping[str, str | Column] | None = None,
    not_matched_by_source_update_pred: Column | str | None = None,
    insert_cols: Sequence[str] | None = None,
    update_pred: str | None = None,
    insert_pred: Column | str | None = None,
    delete_scope: str = "source",
) -> DataFrame:
    """MERGE with Delta-style matched clauses — the relational core
    shared by ``ManifestTable.merge``'s clause mode.

    Clause semantics per (deduped) source row:

    - ``delete_pred`` (evaluated on the SOURCE row — the CDC
      ``_deleted``-flag shape, kicc's late voids): a flagged row is a
      DELETE command — its matched target row drops, and it never
      inserts (deleting an absent key is a no-op). NULL = not flagged.
      When ``order_col`` is None the source must not carry the same
      key BOTH flagged and unflagged — that batch is ambiguous (the
      unflagged row would silently vanish in update mode and resurrect
      in upsert mode), so it raises, like Delta's
      ``MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW``; the check is one
      eager aggregate over the source.
    - ``delete_scope`` picks what a delete-flagged UNMATCHED source
      row means. The default ``"source"`` is the CDC contract above: a
      flagged row is a delete COMMAND, so it never inserts (deleting
      an absent key is a no-op). ``"matched"`` is Delta's ``WHEN
      MATCHED AND pred THEN DELETE`` semantics: the clause applies to
      MATCHED rows only, so a flagged row with no target match flows
      to the insert branch like any other unmatched row. These
      DIVERGE exactly on flagged unmatched rows when
      ``insert_unmatched`` — the SQL ``MERGE INTO`` surface passes
      ``"matched"`` (Delta parity); the library default stays
      ``"source"``. ``"matched"`` is clause-mode only (requires
      ``update_cols``). Flagged rows never take the matched UPDATE in
      either scope (our fixed clause order: DELETE first, like Delta's
      only legal unconditional ordering).
    - ``insert_pred`` (Delta's ``WHEN NOT MATCHED AND cond THEN
      INSERT``): a SQL condition over the SOURCE row (bare names or
      ``source.<name>`` — same thing here) gating the insert branch;
      unmatched rows failing it (or NULL) are dropped. Clause-mode
      only (requires ``update_cols``).
    - ``update_cols`` as a LIST: a matched target row takes the
      source's values for exactly these columns (cast to the target
      dtype — the UPDATE-SET-subset the reference's enrichment layer
      runs, kicc_to_tb_sales.py:109-124); every other column keeps the
      target value. The source row width can be just
      ``keys + update_cols``. An EMPTY list is a no-op matched clause
      (SQL MERGE with no WHEN MATCHED THEN UPDATE).
    - ``update_cols`` as a DICT ``{col: sql_expr}``: expression SET —
      each matched target row sets ``col`` to the expression evaluated
      over the JOINED (target, source) row: bare names resolve to
      TARGET columns, ``source.<name>`` to the source row (the CDC
      increment shape, ``SET total = total + source.delta``). All
      assignments are simultaneous (RHS sees pre-update values), and
      results cast to the target dtype. Values must be SQL strings.
    - ``update_pred`` (Delta's ``WHEN MATCHED AND cond THEN UPDATE``):
      a SQL condition over the joined row (bare names = target,
      ``source.<name>`` = source) gating the matched update — matched
      rows failing it (or NULL) keep their values, and being matched
      they still never insert. Requires ``update_cols``.
    - ``update_cols=None``: matched rows are REPLACED whole (upsert).
    - ``insert_unmatched``: un-matched source rows insert as whole
      rows, NULL-filled to the target width (default, the upsert
      contract); False turns the merge into a pure UPDATE-JOIN.
    - ``insert_cols`` (clause mode only): SQL MERGE's column-list
      insert — ``WHEN NOT MATCHED THEN INSERT (a, b) VALUES …``:
      inserted rows take source values for exactly these columns;
      every other target column lands NULL even when the source
      carries it. Must include every key (a NULL-key insert could
      never be matched again) and name existing source columns.
    - ``not_matched_by_source_delete`` (Delta's WHEN NOT MATCHED BY
      SOURCE THEN DELETE — the full-sync shape): target rows whose
      key has NO source row at all are deleted — all of them when
      ``True``, or only those satisfying a predicate over the TARGET
      row. NULL predicate = kept.
    - ``not_matched_by_source_update`` (Delta's WHEN NOT MATCHED BY
      SOURCE THEN UPDATE SET): assignments ``{col: expr}`` applied to
      target rows with no source key match — expressions see the
      TARGET row only (there IS no source row), bare names,
      simultaneous assignment, cast to the target dtype; gated by the
      optional ``..._update_pred`` over the target row (NULL = not
      updated). Evaluated AFTER the by-source delete clause, Delta's
      clause order: a row both clauses could claim is deleted.

    Matched/unmatched is decided against the ORIGINAL target keys, so
    one batch cannot delete a key and then re-insert it (matches
    Delta: each target row is touched by at most one clause).
    """
    if delete_scope not in ("source", "matched"):
        raise ValueError(
            f"delete_scope must be 'source' (CDC: flagged rows never "
            f"insert) or 'matched' (Delta: the clause touches matched "
            f"rows only), got {delete_scope!r}"
        )
    if update_cols is None and (delete_scope == "matched" or insert_pred is not None):
        raise ValueError(
            "delete_scope='matched' and insert_pred are clause-mode "
            "options — pass update_cols ([] for a no-op matched clause)"
        )
    if order_col is not None:
        source = dedup_last_writer(source, keys, order_col)
    pred = F.expr(delete_pred) if isinstance(delete_pred, str) else delete_pred
    if pred is not None:
        flagged = F.coalesce(pred, F.lit(False))
        if order_col is None:
            # cross-branch duplicate keys (same key flagged AND
            # unflagged) have no well-defined outcome — raise, like
            # Delta, before any clause runs (see docstring)
            n = (
                source.select(*keys, flagged.alias("__f"))
                .groupBy(*keys)
                .agg(F.count_distinct("__f").alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .count()
            )
            if n:
                raise ValueError(
                    "merge source carries the same key both delete-flagged "
                    "and unflagged with no order_col to arbitrate — pass "
                    "order_col (last writer wins) or split the batch "
                    "(Delta raises MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW "
                    "for this shape)"
                )
        dels = source.filter(flagged).select(*keys).distinct()
        ups = source.filter(~flagged)
    else:
        dels, ups = None, source

    kept = target if dels is None else target.join(dels, on=list(keys), how="left_anti")
    target_types = dict(target.dtypes)
    if insert_cols is not None:
        if update_cols is None:
            raise ValueError(
                "insert_cols is a clause-mode option (SQL MERGE column-list "
                "INSERT); whole-row replacement (update_cols=None) inserts "
                "whole rows — pass update_cols=[] for SQL semantics"
            )
        iset = list(dict.fromkeys(insert_cols))
        missing_keys = [k for k in keys if k not in iset]
        if missing_keys:
            raise ValueError(
                f"insert_cols must include every merge key (missing "
                f"{missing_keys}): a NULL-key insert could never match again"
            )
        bad_i = [c for c in iset if c not in target_types]
        if bad_i:
            raise ValueError(f"insert_cols {bad_i}: not table columns")
        not_in_src = [c for c in iset if c not in source.columns]
        if not_in_src:
            raise ValueError(
                f"insert_cols {not_in_src}: not source columns — a listed "
                "column would always insert NULL; drop it from the list"
            )
    nmbs = not_matched_by_source_delete
    nmbs_del = nmbs is not False and nmbs is not None
    if nmbs_del or not_matched_by_source_update:
        # a delete-flagged source row still MATCHES its target (and
        # deletes it via the matched clause above), so the by-source
        # test runs against ALL source keys, flagged included
        marked = kept.join(
            source.select(*keys).distinct().withColumn("__in_src", F.lit(True)),
            on=list(keys),
            how="left",
        )
        unmatched = F.col("__in_src").isNull()
        if nmbs_del:
            nm_pred = (
                F.lit(True)
                if nmbs is True
                else (F.expr(nmbs) if isinstance(nmbs, str) else nmbs)
            )
            marked = marked.filter(~(unmatched & F.coalesce(nm_pred, F.lit(False))))
        if not_matched_by_source_update:
            aset = dict(not_matched_by_source_update)
            bad = [c for c in aset if c in keys or c not in target_types]
            if bad:
                raise ValueError(
                    f"not_matched_by_source_update columns {bad}: must be "
                    "non-key target columns"
                )
            up = not_matched_by_source_update_pred
            up_pred = (
                F.lit(True)
                if up is None
                else F.coalesce(F.expr(up) if isinstance(up, str) else up, F.lit(False))
            )
            cond = unmatched & up_pred
            marked = marked.select(
                *[
                    F.when(
                        cond,
                        (F.expr(e) if isinstance(e, str) else e).cast(target_types[c]),
                    ).otherwise(F.col(c)).alias(c)
                    if (e := aset.get(c)) is not None
                    else F.col(c)
                    for c in target.columns
                ],
                F.col("__in_src"),
            )
        kept = marked.drop("__in_src")
    if update_pred is not None:
        if not isinstance(update_pred, str):
            raise TypeError(
                "update_pred must be a SQL string (bare names = target, "
                "source.<name> = source)"
            )
        if update_cols is None:
            raise ValueError(
                "update_pred gates the matched-UPDATE clause — pass "
                "update_cols (the columns/expressions it sets)"
            )
    if update_cols is None:
        merged = merge_upsert(kept, ups, keys)
        if insert_unmatched:
            return merged
        # pure whole-row UPDATE of matched keys: drop the source rows
        # that found no target partner
        return merge_upsert(
            kept, ups.join(target.select(*keys), on=list(keys), how="left_semi"), keys
        )

    exprs = dict(update_cols) if isinstance(update_cols, Mapping) else None
    if update_pred is not None and exprs is None:
        # a gated list-mode SET takes the expression path (the joined
        # frame must carry the full source row for the condition);
        # identity expressions preserve list-mode semantics exactly
        missing = [c for c in update_cols if c not in ups.columns]
        if missing:
            raise ValueError(f"when_matched_update: source lacks columns {missing}")
        exprs = {c: f"source.{c}" for c in update_cols}
    ucols = list(dict.fromkeys(update_cols))
    bad = [c for c in ucols if c in keys or c not in target_types]
    if bad:
        raise ValueError(
            f"when_matched_update columns {bad}: must be non-key target columns"
        )
    if not ucols:
        # empty SET list: SQL MERGE with no matched-update clause —
        # matched rows pass through untouched, no marker join needed
        updated = kept
    elif exprs is not None:
        nonsql = [c for c, e in exprs.items() if not isinstance(e, str)]
        if nonsql:
            raise TypeError(
                f"expression-mode when_matched_update values must be SQL "
                f"strings (bare names = target, source.<name> = source); "
                f"got non-string for {nonsql}"
            )
        # expression mode joins the FULL source row in (any column may
        # be referenced), namespaced to avoid target collisions
        scols = [c for c in ups.columns if c not in keys]
        rewritten = {
            c: _rewrite_source_refs(e, scols + list(keys)) for c, e in exprs.items()
        }
        src = ups.select(
            *[F.col(k) for k in keys],
            *[F.col(c).alias(_SRC + c) for c in ups.columns if c not in keys],
            F.lit(True).alias("__matched"),
        )
        # keys are never renamed by the join (USING-style equi-join
        # keeps one copy), so source.<key> rewrites to __src_<key> only
        # if the source actually carries a renamed copy — expose them
        src = src.select(
            "*", *[F.col(k).alias(_SRC + k) for k in keys if _SRC + k not in src.columns]
        )
        cond = F.col("__matched")
        if update_pred is not None:
            # NULL condition = not updated, SQL's WHEN MATCHED AND
            cond = cond & F.coalesce(
                F.expr(_rewrite_source_refs(update_pred, scols + list(keys))),
                F.lit(False),
            )
        updated = kept.join(src, on=list(keys), how="left").select(
            *[
                F.when(
                    cond,
                    F.expr(rewritten[c]).cast(target_types[c]),
                ).otherwise(F.col(c)).alias(c)
                if c in rewritten
                else F.col(c)
                for c in target.columns
            ]
        )
    else:
        missing = [c for c in ucols if c not in ups.columns]
        if missing:
            raise ValueError(f"when_matched_update: source lacks columns {missing}")
        # marker column (not NULL-ness of a source value: a source NULL
        # is a legitimate SET NULL) decides matched-ness after the left
        # join
        src = ups.select(
            *[F.col(k) for k in keys],
            *[F.col(c).cast(target_types[c]).alias(_SRC + c) for c in ucols],
            F.lit(True).alias("__matched"),
        )
        uset = set(ucols)
        updated = kept.join(src, on=list(keys), how="left").select(
            *[
                F.when(F.col("__matched"), F.col(_SRC + c)).otherwise(F.col(c)).alias(c)
                if c in uset
                else F.col(c)
                for c in target.columns
            ]
        )
    if not insert_unmatched:
        return updated
    # under Delta scope the matched-DELETE clause never claims an
    # unmatched row, so the insert branch sees the FULL (deduped)
    # source — flagged rows included; CDC scope keeps them out (a
    # delete command never inserts)
    ins_src = source if (delete_scope == "matched" and pred is not None) else ups
    if insert_pred is not None:
        gate = (
            F.expr(_strip_source_qualifier(insert_pred))
            if isinstance(insert_pred, str)
            else insert_pred
        )
        # NULL condition = not inserted, SQL's WHEN NOT MATCHED AND
        ins_src = ins_src.filter(F.coalesce(gate, F.lit(False)))
    ins_allowed = (
        set(target.columns) if insert_cols is None else set(insert_cols)
    )
    inserts = ins_src.join(target.select(*keys), on=list(keys), how="left_anti").select(
        *[
            F.col(c).cast(target_types[c]).alias(c)
            if c in ins_src.columns and c in ins_allowed
            else F.lit(None).cast(target_types[c]).alias(c)
            for c in target.columns
        ]
    )
    return updated.unionByName(inserts)


#: ordered-clause kinds → the Delta clause group each belongs to.
#: Within a group the WRITTEN order decides (first-match-wins); the
#: three groups are independent (a row belongs to exactly one group).
_CLAUSE_GROUPS = {
    "update": "matched",
    "delete": "matched",
    "insert": "not_matched",
    "by_source_update": "by_source",
    "by_source_delete": "by_source",
}


def validate_ordered_clauses(
    clauses: Sequence[tuple],
) -> tuple[list[tuple], list[tuple], list[tuple]]:
    """Validate an ordered MERGE clause list and split it into its three
    groups, preserving written order within each.

    Clause tuples (predicates are SQL strings or None = unconditional):

    - ``("update", pred, assigns)`` — matched UPDATE. ``pred`` sees the
      joined row (bare names = target, ``source.<c>`` = source);
      ``assigns`` is a mapping ``{col: sql_expr}`` (same namespace) or a
      sequence of column names (identity SET from the source).
    - ``("delete", pred)`` — matched DELETE, ``pred`` over the joined
      row (unlike the flat API's CDC ``delete_pred``, which sees the
      source row only — Delta's WHEN MATCHED AND allows both sides).
    - ``("insert", pred, cols)`` — NOT MATCHED INSERT; ``pred`` sees the
      SOURCE row only (Delta's rule — no target row exists); ``cols``
      is the column-list (must include every key) or None = whole-row.
    - ``("by_source_update", pred, assigns)`` / ``("by_source_delete",
      pred)`` — NOT MATCHED BY SOURCE; predicates and expressions see
      the TARGET row only.

    Delta's ordering rule is enforced per group: only the LAST clause of
    a group may be unconditional — anything written after an
    unconditional clause of its group could never fire.
    """
    if not clauses:
        raise ValueError("ordered MERGE needs at least one clause")
    matched: list[tuple] = []
    inserts: list[tuple] = []
    by_source: list[tuple] = []
    unconditional_seen: dict[str, str] = {}
    for cl in clauses:
        if not isinstance(cl, (tuple, list)) or not cl or cl[0] not in _CLAUSE_GROUPS:
            raise ValueError(
                f"ordered MERGE clause {cl!r}: expected (kind, ...) with "
                f"kind in {sorted(_CLAUSE_GROUPS)}"
            )
        kind = cl[0]
        group = _CLAUSE_GROUPS[kind]
        want = 2 if kind in ("delete", "by_source_delete") else 3
        if len(cl) != want:
            raise ValueError(
                f"ordered MERGE clause {cl!r}: {kind} takes {want - 1} "
                "operands (pred" + (", assigns/cols)" if want == 3 else ")")
            )
        pred = cl[1]
        if pred is not None and not isinstance(pred, str):
            raise TypeError(
                f"ordered MERGE clause predicates are SQL strings or None, "
                f"got {type(pred).__name__} in {cl!r}"
            )
        if group in unconditional_seen:
            raise ValueError(
                f"ordered MERGE clause {cl!r} is unreachable: it follows "
                f"the unconditional {unconditional_seen[group]!r} clause of "
                "its group (only the LAST clause of a group may omit the "
                "condition — Delta refuses this ordering too)"
            )
        if pred is None:
            unconditional_seen[group] = kind
        if kind == "update" or kind == "by_source_update":
            assigns = cl[2]
            if isinstance(assigns, Mapping):
                nonsql = [c for c, e in assigns.items() if not isinstance(e, str)]
                if nonsql:
                    raise TypeError(
                        f"ordered MERGE SET expressions must be SQL strings; "
                        f"got non-string for {nonsql}"
                    )
                assigns = dict(assigns)
            elif kind == "update" and isinstance(assigns, Sequence) and not isinstance(assigns, str):
                assigns = {c: f"source.{c}" for c in assigns}
            else:
                raise TypeError(
                    f"{kind} assigns must be a mapping {{col: sql_expr}}"
                    + (" or a sequence of source column names" if kind == "update" else "")
                )
            if not assigns:
                raise ValueError(f"{kind} clause with an empty SET — drop the clause")
            if kind == "by_source_update":
                for c, e in assigns.items():
                    if _strip_source_qualifier(e) != e:
                        raise ValueError(
                            f"by_source_update expression {e!r} references "
                            "source.<col>: NOT MATCHED BY SOURCE expressions "
                            "see the TARGET row only (no source row exists)"
                        )
            if kind == "update":
                matched.append(("update", pred, assigns))
            else:
                by_source.append(("update", pred, assigns))
        elif kind == "delete":
            matched.append(("delete", pred, None))
        elif kind == "by_source_delete":
            if pred is not None and _strip_source_qualifier(pred) != pred:
                raise ValueError(
                    f"by_source_delete predicate {pred!r} references "
                    "source.<col>: NOT MATCHED BY SOURCE predicates see "
                    "the TARGET row only"
                )
            by_source.append(("delete", pred, None))
        else:  # insert
            cols = cl[2]
            if cols is not None:
                if isinstance(cols, str) or not isinstance(cols, Sequence):
                    raise TypeError(
                        "insert cols must be a sequence of column names or "
                        "None for whole-row INSERT *"
                    )
                cols = list(dict.fromkeys(cols))
            inserts.append((pred, cols))
    return matched, inserts, by_source


def _ordered_insert_fire(inserts: Sequence[tuple]) -> Column:
    """CASE chain over SOURCE-row insert predicates → the 0-based index
    of the first clause that fires (NULL = no clause claims the row)."""
    chain: Column | None = None
    for i, (pred, _cols) in enumerate(inserts):
        cond = (
            F.lit(True)
            if pred is None
            else F.coalesce(F.expr(_strip_source_qualifier(pred)), F.lit(False))
        )
        chain = F.when(cond, F.lit(i)) if chain is None else chain.when(cond, F.lit(i))
    return chain if chain is not None else F.lit(None).cast("int")


def _refuse_matched_duplicates(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> None:
    """Delta's MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW rule, exactly:
    an ordered merge without an ``order_col`` refuses only when a
    DUPLICATED source key actually matches a target row — that target
    row would fire matched clauses twice, an ambiguity nothing can
    arbitrate. Unmatched-only duplicates are legal and double-insert,
    as Delta does (ADVICE r11 — the earlier blanket refusal was
    stricter than the semantics it advertises). One probe job: the
    duplicate-key set (usually empty) semi-joins the target, so the
    common no-duplicate batch costs the same single aggregation the
    blanket check did; insert-only statements skip even that
    (callers gate on having matched clauses)."""
    dups = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
    n = target.join(dups, on=list(keys), how="leftsemi").limit(1).count()
    if n:
        raise ValueError(
            "ordered MERGE source carries duplicate keys that match a "
            "target row — matched clauses would fire twice against one "
            "row; pass order_col (last writer wins) or dedup the batch"
        )


def ordered_inserts_only(
    source: DataFrame,
    keys: Sequence[str],
    clauses: Sequence[tuple],
    order_col: str | None = None,
) -> DataFrame:
    """The ordered engine's insert group applied alone — the shape for
    an empty/no-match target, where nothing can be matched: each
    (deduped) source row takes the FIRST insert clause whose predicate
    passes; rows no clause claims drop; columns outside the firing
    clause's list land NULL. Returns the source's width (minus
    ``order_col``)."""
    _matched, inserts, _by_source = validate_ordered_clauses(clauses)
    if order_col is not None:
        source = dedup_last_writer(source, keys, order_col)
    # no order_col: duplicate keys legally double-insert (nothing can
    # match here by definition) — no uniqueness check, per Delta
    out_cols = [c for c in source.columns if c != order_col]
    if not inserts:
        return source.select(*out_cols).limit(0)
    for _pred, cols in inserts:
        if cols is not None:
            missing_keys = [k for k in keys if k not in cols]
            if missing_keys:
                raise ValueError(
                    f"insert cols must include every merge key (missing "
                    f"{missing_keys}): a NULL-key insert could never match "
                    "again"
                )
            not_in_src = [c for c in cols if c not in source.columns]
            if not_in_src:
                raise ValueError(
                    f"insert cols {not_in_src}: not source columns — a "
                    "listed column would always insert NULL; drop it"
                )
    stypes = dict(source.dtypes)
    fired = source.withColumn("__ins", _ordered_insert_fire(inserts)).filter(
        F.col("__ins").isNotNull()
    )

    def _val(c: str) -> Column:
        chain: Column | None = None
        for i, (_pred, cols) in enumerate(inserts):
            allowed = cols is None or c in cols or c in keys
            v = F.col(c) if allowed else F.lit(None).cast(stypes[c])
            chain = (
                F.when(F.col("__ins") == i, v)
                if chain is None
                else chain.when(F.col("__ins") == i, v)
            )
        return chain.alias(c)

    return fired.select(*[_val(c) for c in out_cols])


_ORDERED_BROADCAST_ROWS = 5_000
"""Source row bound under which the ordered engine takes the
broadcast plan — sized so the broadcast side stays well under Spark's
default 10 MB autoBroadcastJoinThreshold for typical row widths."""


def merge_ordered(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    clauses: Sequence[tuple],
    order_col: str | None = None,
    small_source: bool = False,
) -> DataFrame:
    """MERGE with Delta's ORDERED multi-clause semantics: clauses are
    evaluated in written order within each group (matched / not-matched
    / not-matched-by-source), and each row takes the FIRST clause of its
    group whose condition passes — rows no clause claims pass through
    untouched (target side) or drop (source side). Clause tuples and the
    only-last-unconditional rule: ``validate_ordered_clauses``.

    This generalizes ``merge_clauses`` (one clause per kind, fixed
    delete-before-update order) to any Delta-legal clause stack:
    several conditional UPDATEs, UPDATE written before DELETE (rows the
    update claims are then NOT deleted — written order, not fixed
    order), multiple gated INSERT lists.

    Plan shape (the 100 TB story): ONE full-outer join on the keys does
    all three groups at once — matched rows carry both sides, unmatched
    source rows insert, unmatched target rows meet the by-source
    clauses. Clause conditions become a single CASE chain (the firing
    index), deletes one filter, assignments one projection; insert
    predicates are pre-computed on the source frame (they see the
    source row only), so no second join or union is needed. The caller
    (``ManifestTable.merge``) still key-prunes which files join at all.

    A full-outer join can never broadcast, so a dim-sized source
    against a 100-TB target would pay a full sort-merge shuffle of the
    target. ``small_source=True`` (set by ``ManifestTable.merge`` from
    a bounded row probe) replans as broadcast joins with identical
    results: matched + by-source groups run on ``target LEFT JOIN
    broadcast(source)`` (zero target shuffle), and the insert group on
    ``source ANTI JOIN broadcast(matched keys)`` where the matched-key
    set comes from ``target SEMI JOIN broadcast(source keys)`` — every
    join builds on the small side, the big side never shuffles.

    Duplicate source keys that MATCH a target row refuse unless
    ``order_col`` arbitrates (last-writer-wins dedup first);
    unmatched-only duplicates double-insert, per Delta — see
    ``_refuse_matched_duplicates``.
    """
    matched, inserts, by_source = validate_ordered_clauses(clauses)
    if order_col is not None:
        source = dedup_last_writer(source, keys, order_col)
    elif matched:
        # only matched clauses can be fired twice by a duplicate key;
        # insert-only / by-source-only statements skip the probe (and
        # its job) entirely — duplicates there double-insert, per Delta
        _refuse_matched_duplicates(target, source, keys)

    target_types = dict(target.dtypes)
    scols = [c for c in source.columns if c not in keys]
    ns = scols + list(keys)

    for kind, _pred, assigns in matched:
        if kind != "update":
            continue
        bad = [c for c in assigns if c in keys or c not in target_types]
        if bad:
            raise ValueError(
                f"ordered MERGE UPDATE columns {bad}: must be non-key "
                "target columns"
            )
    for kind, _pred, assigns in by_source:
        if kind != "update":
            continue
        bad = [c for c in assigns if c in keys or c not in target_types]
        if bad:
            raise ValueError(
                f"ordered MERGE by-source UPDATE columns {bad}: must be "
                "non-key target columns"
            )
    for _pred, cols in inserts:
        if cols is None:
            continue
        missing_keys = [k for k in keys if k not in cols]
        if missing_keys:
            raise ValueError(
                f"insert cols must include every merge key (missing "
                f"{missing_keys}): a NULL-key insert could never match again"
            )
        bad_i = [c for c in cols if c not in target_types]
        if bad_i:
            raise ValueError(f"insert cols {bad_i}: not table columns")
        not_in_src = [c for c in cols if c not in source.columns]
        if not_in_src:
            raise ValueError(
                f"insert cols {not_in_src}: not source columns — a listed "
                "column would always insert NULL; drop it from the list"
            )

    # source side: namespace non-key columns, pre-compute the insert
    # firing index (insert predicates see the SOURCE row only), mark
    src2 = source.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(_SRC + c) for c in scols],
        _ordered_insert_fire(inserts).alias("__ins"),
        F.lit(True).alias("__m"),
    )
    # expose source-side key copies for source.<key> references in
    # matched predicates/expressions (the USING join keeps one key col)
    src2 = src2.select(
        "*", *[F.col(k).alias(_SRC + k) for k in keys if _SRC + k not in src2.columns]
    )
    tgt2 = target.select("*", F.lit(True).alias("__t"))
    # With no matched clause, duplicate source keys are legal (nothing
    # can fire twice) — but a full-outer join would then emit one
    # PASS-THROUGH copy of a matched target row per duplicate. Since no
    # clause reads source values in that case, join on the DISTINCT key
    # set instead and take the dedicated insert path below (where
    # unmatched duplicates still double-insert, per Delta).
    split_inserts = small_source or not matched
    if not matched:
        join_src = source.select(*keys).distinct().select(
            *keys,
            F.lit(True).alias("__m"),
            F.lit(None).cast("int").alias("__ins"),
        )
    else:
        join_src = src2
    if small_source:
        # broadcast plan: the left join covers matched + target-only
        # rows without shuffling the target; source-only rows union in
        # below (src_only is vacuously false on this frame)
        j = tgt2.join(F.broadcast(join_src), on=list(keys), how="left")
    elif split_inserts:
        j = tgt2.join(join_src, on=list(keys), how="left")
    else:
        j = tgt2.join(src2, on=list(keys), how="full")
    is_matched = F.col("__t").isNotNull() & F.col("__m").isNotNull()
    tgt_only = F.col("__t").isNotNull() & F.col("__m").isNull()
    src_only = F.col("__t").isNull()

    def _fire(group: Sequence[tuple], rewrite: bool) -> Column:
        chain: Column | None = None
        for i, (_kind, pred, _assigns) in enumerate(group):
            cond = (
                F.lit(True)
                if pred is None
                else F.coalesce(
                    F.expr(_rewrite_source_refs(pred, ns) if rewrite else pred),
                    F.lit(False),
                )
            )
            chain = (
                F.when(cond, F.lit(i)) if chain is None else chain.when(cond, F.lit(i))
            )
        return chain if chain is not None else F.lit(None).cast("int")

    # matched predicates see the joined row (source.<c> → namespaced);
    # by-source predicates see the target row (bare names already)
    j = j.select("*", _fire(matched, True).alias("__fm"), _fire(by_source, False).alias("__fb"))

    m_del = [i for i, (kind, _p, _a) in enumerate(matched) if kind == "delete"]
    b_del = [i for i, (kind, _p, _a) in enumerate(by_source) if kind == "delete"]
    keep = (
        F.when(
            is_matched,
            ~F.coalesce(F.col("__fm").isin(m_del) if m_del else F.lit(False), F.lit(False)),
        )
        .when(
            tgt_only,
            ~F.coalesce(F.col("__fb").isin(b_del) if b_del else F.lit(False), F.lit(False)),
        )
        .otherwise(F.col("__ins").isNotNull())
    )
    j = j.filter(keep)

    rewritten: dict[int, dict[str, str]] = {
        i: {c: _rewrite_source_refs(e, ns) for c, e in assigns.items()}
        for i, (kind, _p, assigns) in enumerate(matched)
        if kind == "update"
    }

    def _ins_val(c: str) -> Column:
        if c in keys:
            return F.col(c).cast(target_types[c])
        chain: Column | None = None
        for i, (_pred, cols) in enumerate(inserts):
            allowed = c in source.columns and (cols is None or c in cols)
            v = (
                F.col(_SRC + c).cast(target_types[c])
                if allowed
                else F.lit(None).cast(target_types[c])
            )
            chain = (
                F.when(F.col("__ins") == i, v)
                if chain is None
                else chain.when(F.col("__ins") == i, v)
            )
        return chain if chain is not None else F.lit(None).cast(target_types[c])

    def _out(c: str) -> Column:
        branches: list[tuple[Column, Column]] = []
        for i, (kind, _p, assigns) in enumerate(matched):
            if kind == "update" and c in assigns:
                branches.append(
                    (
                        is_matched & (F.col("__fm") == i),
                        F.expr(rewritten[i][c]).cast(target_types[c]),
                    )
                )
        for i, (kind, _p, assigns) in enumerate(by_source):
            if kind == "update" and c in assigns:
                branches.append(
                    (
                        tgt_only & (F.col("__fb") == i),
                        F.expr(assigns[c]).cast(target_types[c]),
                    )
                )
        if inserts and not split_inserts:
            # src_only rows exist only on the full-outer plan; the
            # split plans union inserts in from their own frame below
            branches.append((src_only, _ins_val(c)))
        expr: Column | None = None
        for cond, val in branches:
            expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        return (expr.otherwise(F.col(c)) if expr is not None else F.col(c)).alias(c)

    out = j.select(*[_out(c) for c in target.columns])
    if not split_inserts:
        return out
    if small_source:
        # broadcast plan's insert side: matched keys = target rows
        # whose key appears in the (small) source — a broadcast semi
        # join, then a distinct bounded by the source's key count;
        # anti-joining the source against that small set is itself
        # broadcast-able. Results are identical to the full-outer
        # route's src_only branch.
        matched_keys = (
            target.select(*keys)
            .join(
                F.broadcast(source.select(*keys).distinct()),
                on=list(keys),
                how="leftsemi",
            )
            .distinct()
        )
        ins = src2.join(F.broadcast(matched_keys), on=list(keys), how="left_anti")
    else:
        ins = src2.join(target.select(*keys), on=list(keys), how="left_anti")
    ins = ins.filter(F.col("__ins").isNotNull())
    return out.unionByName(ins.select(*[_ins_val(c).alias(c) for c in target.columns]))


def recover_rename_commit(target_path: str) -> bool:
    """Repair a half-finished rename-commit at ``target_path``.

    The rename-commit sequence (stage → rename target to ``.__old__`` →
    rename staging to target → delete old) has a crash window between
    the two renames where no directory exists at ``target_path`` and
    the previous table sits stranded in ``.__old__``. Call this before
    reading or re-merging: if the target is missing but ``.__old__``
    exists, the old table is restored (the interrupted merge simply
    never happened — the merge is re-runnable). Leftover staging
    directories are always removed. Returns True if a restore happened.
    """
    import os
    import shutil

    old = target_path.rstrip("/") + ".__old__"
    staging = target_path.rstrip("/") + ".__staging__"
    restored = False
    if not os.path.exists(target_path) and os.path.exists(old):
        os.rename(old, target_path)
        restored = True
    shutil.rmtree(staging, ignore_errors=True)
    if os.path.exists(target_path):
        shutil.rmtree(old, ignore_errors=True)
    return restored


def merge_upsert_path(
    spark,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Merge ``source`` into the parquet table at ``target_path``.

    Parquet directories can't be overwritten while a lazy plan still
    reads them, so the merge lands in a sibling staging directory that
    replaces the target via two renames (same idea as Spark's own file
    commit protocol). NOT fully atomic: a crash between the renames
    leaves no table at ``target_path`` (the previous data is stranded
    in ``.__old__``) — ``recover_rename_commit`` runs first and repairs
    exactly that state, so a rerun after any crash is safe. ``os.rename``
    also doesn't exist on object stores; for concurrent readers or
    S3-like storage use ``etl_job_spark.table`` (manifest-committed
    table) instead — this path is the simple local-FS variant.
    """
    import os
    import shutil

    recover_rename_commit(target_path)
    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
        merged = merge_upsert(target, source, keys, order_col=order_col)
    else:
        merged = dedup_last_writer(source, keys, order_col) if order_col else source

    staging = target_path.rstrip("/") + ".__staging__"
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)

    old = target_path.rstrip("/") + ".__old__"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(staging, target_path)
    shutil.rmtree(old, ignore_errors=True)
    # drop any cached file listing for the replaced directory
    spark.catalog.refreshByPath(target_path)
