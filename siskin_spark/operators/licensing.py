"""The licensing engine: filter-config trees compiled to Spark Column
predicates + holdings interval joins (SURVEY.md §7.4 — the reference's
span-tag, J6/J7; config semantics sources/amsl.py:850-868,976-1358).

Config shape (per ISIL), as in the reference's filter-config JSON:

    {"or": [tree...]} | {"and": [tree...]} | {"not": tree}
    | {"source": ["55", ...]}                      # finc_source_id in
    | {"collection": ["name", ...]}                # mega_collection overlap
    | {"subject": ["s", ...]}                      # subjects overlap
    | {"issn": {"list": [...]}}                    # record ISSNs overlap
    | {"isbn": {"list": [...]}}                    # rft_isbn overlap
    | {"content": {"list": [ids...]}}              # record_id whitelist (J7)
    | {"holdings": {"files": [file_uri, ...]}}     # KBART coverage (join)

The reference fetches issn/content lists from URLs and freezes them
(span-freeze); here the snapshot step materializes them as plain lists
or DataFrames before compilation — fetching is an ingestion concern and
never happens inside executors.

Execution model: every list leaf, of any size, is a row-local
membership test against a hash set built once per task (Catalyst's
InSet) — the reference's own observation that in-memory lists checked
per record in one pass are the main speedup (amsl.py:906-922). Every
leaf is two-valued: a NULL column or array element matches nothing, so
``not`` never sees a NULL. Holdings leaves are the only join: one scan
of the KBART table tags each row with a bitmask of the leaves its file
serves, one explode of the records' ISSNs meets it in a broadcast join,
``bit_or`` folds the hits per record and one join brings the mask
back, where the compiled tree reads its bits. All ISILs are evaluated
in that single plan — no per-ISIL passes over the corpus (span-tag
iterates filters per record in one pass too).
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.column import Column as JVMColumn
from pyspark.sql.functions import broadcast
from pyspark.sql.utils import get_active_spark_context

from siskin_spark.schema import issns_all

_EMBARGO_RE = r"^\s*([RP])([0-9]+)([DMY])\s*$"


def kbart_embargo_ok(embargo: Column, rdate: Column, now: Column) -> Column:
    """NISO KBART ``embargo_info`` predicate (format ``{R|P}{n}{D|M|Y}``).

    R = the most recent n units are NOT available (the JSTOR-style
    moving wall, e.g. ``R1Y``); P = ONLY the most recent n units are
    available. Null/empty/unparseable embargo = no restriction.
    ``now`` is an explicit column/date — wall-clock-relative semantics
    must never capture the cluster clock inside the plan (SURVEY §7.4;
    reference consumes these via span-tag per sources/amsl.py:459-521).
    """
    etype = F.regexp_extract(embargo, _EMBARGO_RE, 1)
    # try_cast: a non-matching embargo string extracts '' which must
    # become null (= no restriction), not an ANSI cast abort
    n = F.regexp_extract(embargo, _EMBARGO_RE, 2).try_cast("int")
    unit = F.regexp_extract(embargo, _EMBARGO_RE, 3)
    cutoff = (
        F.when(unit == "D", F.date_sub(now, n))
        .when(unit == "M", F.add_months(now, -n))
        .when(unit == "Y", F.add_months(now, -12 * n))
    )
    return (
        F.when(etype == "R", rdate <= cutoff)
        .when(etype == "P", rdate > cutoff)
        .otherwise(F.lit(True))
    )


def kbart_volume_issue_ok(
    rvol: Column,
    rissue: Column,
    first_vol: Column,
    first_issue: Column,
    last_vol: Column,
    last_issue: Column,
) -> Column:
    """KBART volume/issue bounds (``num_first_vol_online`` etc.,
    jstor.py:546-580): lexicographic (volume, issue) containment with
    null-permissive sides — a record with no volume, or a holdings row
    with no bound, passes that comparison (matching the reference's
    behavior of only constraining on data both sides have)."""

    def _ge(v: Column, i: Column, bv: Column, bi: Column) -> Column:
        issue_ok = F.when(bi.isNull() | i.isNull(), F.lit(True)).otherwise(i >= bi)
        return F.when(bv.isNull() | v.isNull(), F.lit(True)).otherwise(
            (v > bv) | ((v == bv) & issue_ok)
        )

    def _le(v: Column, i: Column, bv: Column, bi: Column) -> Column:
        issue_ok = F.when(bi.isNull() | i.isNull(), F.lit(True)).otherwise(i <= bi)
        return F.when(bv.isNull() | v.isNull(), F.lit(True)).otherwise(
            (v < bv) | ((v == bv) & issue_ok)
        )

    return _ge(rvol, rissue, first_vol, first_issue) & _le(
        rvol, rissue, last_vol, last_issue
    )


_SEP = "\x00"


def _member(col: Column, values: Iterable[Any]) -> Column:
    """``col IN values`` over the values' string forms (NULL for a NULL
    ``col``). The list crosses py4j as ONE joined string split
    JVM-side, so building the leaf costs O(1) round trips at any list
    size; past 10 values Catalyst's OptimizeIn plans the ``In`` as an
    InSet, a hash set built once per task."""
    vals = sorted({str(v) for v in values if v is not None})
    if not vals:
        return F.lit(False)
    if any(_SEP in v for v in vals):
        raise ValueError("licensing list values must not contain NUL")
    pattern = get_active_spark_context()._jvm.java.util.regex.Pattern
    # flag 16 = Pattern.LITERAL; values are sorted, so only a leading
    # empty string can occur, and split keeps it
    jvals = pattern.compile(_SEP, 16).splitAsStream(_SEP.join(vals)).toList()
    return JVMColumn(col._jc.isInCollection(jvals))


def _in(col: Column, values: Iterable[Any]) -> Column:
    """Two-valued membership of a scalar column: NULL is false."""
    return F.coalesce(_member(col.cast("string"), values), F.lit(False))


def _any_in(arr: Column, values: Iterable[Any]) -> Column:
    """Two-valued overlap of an array<string> column with ``values``: a
    NULL array or NULL element matches nothing."""
    vals = [v for v in values if v is not None]
    if not vals:
        return F.lit(False)
    return F.coalesce(F.exists(arr, lambda x: _member(x, vals)), F.lit(False))


def _files_key(arg: dict[str, Any]) -> tuple[str, ...]:
    return tuple(sorted(arg.get("files", arg.get("urls", []))))


class LicensingCompiler:
    """Compiles a {ISIL: tree} config against a records DataFrame."""

    def __init__(
        self,
        holdings: DataFrame | None = None,
        date_col: str = "x_date",
        record_id_col: str = "finc_record_id",
        now: Any = None,
        volume_col: str = "rft_volume",
        issue_col: str = "rft_issue",
    ):
        self.holdings = holdings
        self.date_col = date_col
        self.record_id_col = record_id_col
        self.now = now
        self.volume_col = volume_col
        self.issue_col = issue_col
        # files-tuple -> leaf index (its bit in the per-record mask)
        self._holdings_leaves: dict[tuple[str, ...], int] = {}
        self._cols: dict[str, Column] = {}

    # -- pass 1: number the holdings leaves so their one join can be
    # planned ---------------------------------------------------------
    def _collect_holdings(self, tree: dict[str, Any]) -> None:
        for op, arg in tree.items():
            if op in ("or", "and"):
                for sub in arg:
                    self._collect_holdings(sub)
            elif op == "not":
                self._collect_holdings(arg)
            elif op == "holdings":
                self._holdings_leaves.setdefault(
                    _files_key(arg), len(self._holdings_leaves)
                )

    # -- flag representation ------------------------------------------
    # With <= 63 holdings leaves (the reference runs ~30 holdings files)
    # each leaf gets one BIT in a single long: the per-record aggregate
    # is bit_or of longs instead of collect_set of arrays — a fixed
    # 8-byte shuffle/join payload and zero array allocations, which is
    # exactly the memory pressure the 30 M-row single-JVM leg hit. Past
    # 63 leaves each KBART row carries the array of its leaf indices
    # and a record the union of its rows' arrays.
    def _bitmask(self) -> bool:
        return len(self._holdings_leaves) <= 63

    # -- pass 2: tree -> Column --------------------------------------
    def _col(self, name: str) -> Column:
        """One Column object per referenced column, shared by every leaf
        (each PySpark Column call costs about a dozen py4j round trips);
        ``_issns`` is the union of print and e-ISSNs."""
        if name not in self._cols:
            self._cols[name] = issns_all() if name == "_issns" else F.col(name)
        return self._cols[name]

    def _compile(self, tree: dict[str, Any]) -> Column:
        if len(tree) != 1:
            # implicit AND over sibling keys (reference treats each
            # filter dict entry as a conjunct, amsl.py:850-868)
            return self._compile({"and": [{k: v} for k, v in tree.items()]})
        ((op, arg),) = tree.items()
        if op in ("or", "and"):
            subs = [self._compile(sub) for sub in arg]
            if not subs:
                return F.lit(op == "and")
            return reduce(Column.__or__ if op == "or" else Column.__and__, subs)
        if op == "not":
            return ~self._compile(arg)
        if op == "source":
            return _in(self._col("finc_source_id"), arg)
        if op == "collection":
            return _any_in(self._col("finc_mega_collection"), arg)
        if op == "subject":
            return _any_in(self._col("subjects"), arg)
        if op == "issn":
            return _any_in(self._col("_issns"), arg["list"])
        if op == "isbn":
            return _any_in(self._col("rft_isbn"), arg["list"])
        if op == "content":
            return _in(self._col(self.record_id_col), arg["list"])
        if op == "holdings":
            i = self._holdings_leaves[_files_key(arg)]
            hit = (
                self._col("_flags").bitwiseAND(F.lit(1 << i)) != 0
                if self._bitmask()
                else F.array_contains(self._col("_flags"), i)
            )
            return F.coalesce(hit, F.lit(False))
        raise ValueError(f"unknown filter node: {op}")

    def _tagged_holdings(self) -> DataFrame:
        """Every KBART row that serves some holdings leaf, with the
        leaves it serves in ``_flag``, from ONE scan of the table (the
        broadcast side) — N leaves never mean N scans."""
        h = self.holdings
        cols = set(h.columns)
        opt = lambda name: (  # noqa: E731
            F.col(name) if name in cols else F.lit(None).cast("string")
        )

        def serves(files: tuple[str, ...]) -> Column:
            # a NULL file_uri serves no listed file: when() treats NULL
            # as false
            return _member(F.col("file_uri"), files) if files else F.lit(True)

        leaves = self._holdings_leaves.items()
        if self._bitmask():
            flag = reduce(
                Column.bitwiseOR,
                [
                    F.when(serves(files), F.lit(1 << i)).otherwise(F.lit(0))
                    for files, i in leaves
                ],
            )
            served = F.col("_flag") != 0
        else:
            flag = F.array_compact(
                F.array(*[F.when(serves(files), F.lit(i)) for files, i in leaves])
            )
            served = F.size("_flag") > 0
        return h.select(
            F.explode(
                F.array_distinct(
                    F.array_compact(
                        F.array(F.col("print_identifier"), F.col("online_identifier"))
                    )
                )
            ).alias("_ident"),
            # explicit try_cast (string-typed KBART files): malformed
            # coverage date -> null -> open bound, not an ANSI abort at
            # the comparison site
            F.col("date_first_issue_online").try_cast("date").alias("_from"),
            F.col("date_last_issue_online").try_cast("date").alias("_to"),
            opt("embargo_info").alias("_embargo"),
            # try_cast: real KBART files carry junk in num_* columns;
            # unparseable bound -> null -> open interval, never an abort
            opt("num_first_vol_online").try_cast("int").alias("_fvol"),
            opt("num_first_issue_online").try_cast("int").alias("_fiss"),
            opt("num_last_vol_online").try_cast("int").alias("_lvol"),
            opt("num_last_issue_online").try_cast("int").alias("_liss"),
            flag.alias("_flag"),
        ).filter(served)

    def _attach_flags(self, records: DataFrame, id_col: str) -> DataFrame:
        """Attach ``_flags``, every holdings leaf's hits for the record,
        with ONE join against the records (matches on the small side ->
        bit_or per record -> join back). The reference runs ~30
        holdings files; sequentially that was ~30 full left joins of the
        corpus — this is one."""
        if self.holdings is None:
            raise ValueError("config has holdings leaves but no holdings table given")
        rcols = set(records.columns)
        if "embargo_info" in self.holdings.columns and self.now is None:
            # Real KBART files always carry the embargo_info COLUMN
            # (32-column standard) — only a parseable VALUE makes
            # `now` mandatory. Holdings are config-sized, so this
            # probe is one tiny scan of the broadcast side.
            has_embargo = (
                self.holdings.filter(
                    F.regexp_extract(
                        F.col("embargo_info").cast("string"), _EMBARGO_RE, 1
                    )
                    != ""
                )
                .limit(1)
                .count()
                > 0
            )
            if has_embargo:
                raise ValueError(
                    "holdings table has embargo_info values but no `now` "
                    "was given; embargo walls are wall-clock-relative and "
                    "need an explicit evaluation date (attach_labels(..., "
                    "now=date(...)))"
                )
        # coverage is date-granular (KBART bounds are dates); record
        # timestamps truncate to the day for the comparison
        ids = records.select(
            F.col(id_col).alias("_rk"),
            # try_cast: malformed record date/volume/issue -> null
            # -> the record simply matches no holdings window
            # (reference skips such records), instead of aborting
            # the whole tagging job under ANSI mode
            F.col(self.date_col).try_cast("date").alias("_rdate"),
            (
                F.col(self.volume_col).try_cast("int")
                if self.volume_col in rcols
                else F.lit(None).cast("int")
            ).alias("_rvol"),
            (
                F.col(self.issue_col).try_cast("int")
                if self.issue_col in rcols
                else F.lit(None).cast("int")
            ).alias("_riss"),
            F.explode(issns_all()).alias("_ident"),
        )
        cond = (
            (F.col("_from").isNull() | (F.col("_rdate") >= F.col("_from")))
            & (F.col("_to").isNull() | (F.col("_rdate") <= F.col("_to")))
            & kbart_volume_issue_ok(
                F.col("_rvol"),
                F.col("_riss"),
                F.col("_fvol"),
                F.col("_fiss"),
                F.col("_lvol"),
                F.col("_liss"),
            )
        )
        if self.now is not None:
            cond = cond & kbart_embargo_ok(
                F.col("_embargo"), F.col("_rdate"), F.lit(self.now)
            )
        matches = ids.join(broadcast(self._tagged_holdings()), on="_ident").filter(cond)
        # bit_or partial-aggregates map-side like any sum
        agg = (
            F.bit_or("_flag")
            if self._bitmask()
            else F.flatten(F.collect_set("_flag"))
        )
        flags_per_rec = matches.groupBy("_rk").agg(agg.alias("_flags"))
        # shuffle_hash on the NARROW flags side: a sort-merge join here
        # would sort the full wide corpus by id — at 30 M rows in one
        # JVM that sort was the measured heap-pressure cliff. A
        # shuffled hash join builds the table on the (id, long) side
        # and streams the wide records through it unsorted.
        return records.join(
            flags_per_rec.withColumnRenamed("_rk", id_col).hint("shuffle_hash"),
            on=id_col,
            how="left",
        )

    def attach_labels(
        self,
        records: DataFrame,
        config: dict[str, dict[str, Any]],
        id_col: str = "finc_id",
        labels_col: str = "x_labels",
        drop_unlabeled: bool = False,
    ) -> DataFrame:
        """J6 span-tag: evaluate every ISIL's tree, set ``labels_col``
        to the sorted list of matching ISILs; optionally drop records
        with no label (span-tag -D, workflows/ai.py:232-237)."""
        self._holdings_leaves = {}
        for tree in config.values():
            self._collect_holdings(tree)
        self._cols = {}
        work = self._attach_flags(records, id_col) if self._holdings_leaves else records
        pairs = [
            F.when(self._compile(tree), F.lit(isil)) for isil, tree in config.items()
        ]
        out = work.withColumn(
            labels_col, F.array_sort(F.array_compact(F.array(*pairs)))
        )
        if self._holdings_leaves:
            out = out.drop("_flags")
        if drop_unlabeled:
            out = out.filter(F.size(labels_col) > 0)
        return out


def attach_labels(
    records: DataFrame,
    config: dict[str, dict[str, Any]],
    holdings: DataFrame | None = None,
    now: Any = None,
    **kw: Any,
) -> DataFrame:
    """Functional entry point for the licensing engine (J6)."""
    return LicensingCompiler(holdings=holdings, now=now).attach_labels(
        records, config, **kw
    )


def apply_oa_flag(
    records: DataFrame,
    oa_issns: "DataFrame | Sequence[str] | None" = None,
    free_collections: list[str] | None = None,
    oa_source_ids: list[str] | None = None,
    excluded_source_ids: list[str] | None = None,
    flag_col: str = "x_oa",
) -> DataFrame:
    """span-oa-filter semantics (reference: workflows/ai.py:758-798):
    x_oa = (ISSN in OA-KBART list) OR (collection in free-content list)
    OR (source in -oasid allowlist), unless source in -xsid excludes.

    ``oa_issns`` may be a DataFrame with an ``issn`` column, which is
    collected once on the driver, or an in-memory sequence — the
    reference tool loads its ISSN file into a process-local set the same
    way. Either way the operator is a pure map: each test is a row-local
    hash-set probe (see ``_in``), the input plan is evaluated once and
    never re-keyed by id, and ``x_oa`` is never NULL.
    """
    if isinstance(oa_issns, DataFrame):
        oa_issns = [r[0] for r in oa_issns.select("issn").collect()]
    flag = _any_in(issns_all(), oa_issns or [])
    if free_collections:
        flag = flag | _any_in(F.col("finc_mega_collection"), free_collections)
    if oa_source_ids:
        flag = flag | _in(F.col("finc_source_id"), oa_source_ids)
    if excluded_source_ids:
        flag = flag & ~_in(F.col("finc_source_id"), excluded_source_ids)
    return records.withColumn(flag_col, flag)
