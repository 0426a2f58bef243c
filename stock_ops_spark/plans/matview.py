"""Incrementally-maintained materialized aggregate views.

Spark has no built-in incremental view maintenance: a ``CREATE VIEW``
re-runs its full plan per query, and Structured Streaming aggregations
live inside one streaming query's state store.  This module maintains a
grouped-aggregate table UNDER ANY ingest path (batch ``ingest_batch``
calls, streaming ``foreachBatch`` micro-batches, backfills) by folding
the store's change feed (``ManifestStore.read_changes``) into a tiny
persisted partial-aggregate table — O(|delta| + |groups touched|) per
sync, never a rescan of the store.

Supported measures are the ADDITIVE partials: ``sum``, ``count``,
``min``, ``max`` (and anything derivable from them at read time — avg,
rates, spans — via ``serve``).  Additivity is what makes maintenance a
pure fold; it also dictates the contract:

- **One change feed.**  ``sync`` pulls the change rows past a persisted
  cursor and folds them exactly once.  Ingest inserts are the POST-dedup
  rows each commit added (never raw pre-dedup batches, which replay on
  checkpoint recovery); subtractable measures (sum/count) fold
  deletions NEGATIVELY — exact, O(|delta| + |groups|), no fact scan; a
  view with min/max measures recomputes ONLY the groups a retraction
  touched from the snapshot (semi-join-bounded — the groups, not the
  table).  ``stream_sync`` folds the same feed as a stream;
  ``init_from_snapshot`` is the bootstrap and the heal.  Those three are
  the whole maintenance API.
- **Crash safety.**  A view is a ``streaming/foldstate.FoldState``:
  each install writes the partials to a fresh dir and publishes it in
  ONE commit of the view's own log, carrying the source-store cursor,
  so a SIGKILL anywhere leaves the previous or the next state whole and
  a sync never double-folds; the replaced dir outlives one more
  install, for readers that took the view before it.  A commit
  published just before a crash is still in the feed, so the next
  ``sync`` folds it.

Measure algebra — maintenance cost per path (measured r9,
``tools/scale_curves.py --only mv_minmax_retract``):

  ============  ==================  ======================================
  measure       insert fold         retraction (delete / update_preimage)
  ============  ==================  ======================================
  sum, count    O(|delta|+|groups|) O(|delta|+|groups|) — negative fold,
                                    no fact scan (``recomputed_groups=0``)
  min, max      O(|delta|+|groups|) O(store scan) + agg over affected
                                    groups: ``read_all(at_version)`` +
                                    semi-join — the ONLY non-O(delta)
                                    path in the module.  The aggregate is
                                    bounded by the touched groups, but
                                    the snapshot READ is bounded by the
                                    store (commit-level skipping does not
                                    help: group cols rarely align with
                                    time-partitioned dirs).
  avg, spans    derived at read     inherits its inputs' costs
  (serve())     time — free
  ============  ==================  ======================================

  Measured (r9, events store 0.3M→3M rows, one-group delete): 2.7 /
  3.1 / 2.7 s, k = 0.01 — at local scale the per-sync job floor hides
  the scan term entirely; the O(store) read is the asymptotic bound a
  1000-executor store WILL hit, not the local constant.

  Consequence at 100 TB: keep min/max views on stores with bounded
  retention or accept retraction = one snapshot pass; a mixed view pays
  the min/max price on every retraction batch that touches any group.
  Rejected alternative: per-group top-N value heaps make retraction
  O(delta) until the heap underflows, then recompute anyway — state
  grows with groups × N and underflow is adversary-choosable, so the
  honest contract (measured, documented) beats the amortized one.

At 100 TB the point of the MV is the read side: a dashboard query over
the view touches |groups| rows instead of the fact table; the write-side
fold aggregates only the micro-batch.  Reference parity: the reference
has no MV layer (its stats tables, ``sql_db.py:540-669``, are the
closest analog — this generalizes that fold to arbitrary grouped
measures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.streaming.foldstate import FoldState

# Hidden per-group row multiplicity: lets the subtractable-fold path
# drop a group whose last row was deleted (sum hitting 0 is NOT "group
# gone"; count of live rows hitting 0 is).  Maintained by every partial,
# excluded from read()/serve().
_MULT = "__n"
_SUBTRACTABLE = frozenset({"sum", "count"})

# measure kind -> (partial aggregate over delta, pairwise combine)
_KINDS = {
    "sum": (
        lambda e: F.sum(e),
        lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    ),
    "count": (
        lambda e: F.count(F.lit(1)),
        lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    ),
    # least/greatest are null-skipping for 2 args only when wrapped:
    # coalesce(least(a,b), a, b) returns the non-null one if either is
    "min": (
        lambda e: F.min(e),
        lambda a, b: F.coalesce(F.least(a, b), a, b),
    ),
    "max": (
        lambda e: F.max(e),
        lambda a, b: F.coalesce(F.greatest(a, b), a, b),
    ),
}


class MatView(FoldState):
    """One materialized grouped-aggregate view.

    ``measures`` maps output column -> ``(kind, sql_expr)`` with kind in
    {sum, count, min, max}; ``sql_expr`` is any row-level SQL expression
    over the fact's columns (ignored for count).  Example::

        mv = MatView(spark, path, ["ticker", "interval"], {
            "n":        ("count", None),
            "vol_sum":  ("sum",   "volume"),
            "px_cents": ("sum",   "CAST(round(close * 100) AS BIGINT)"),
            "hi":       ("max",   "high"),
        })
        mv.sync(store, "historical_intraday")  # fold the new commits
        mv.serve(avg_px="px_cents / n")        # derived columns at read time
    """

    #: widest sync span (in commits) whose change set is pinned with
    #: ``localCheckpoint`` before folding: past it (a fresh-view
    #: bootstrap over deep history) the fold re-reads the replayable
    #: CDC plan instead of pinning the whole feed in executor memory.
    SPAN_CKPT_MAX_COMMITS = 64

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        measures: dict[str, tuple[str, str | None]],
        join_dim: DataFrame | None = None,
        join_on: list[str] | None = None,
    ):
        """``join_dim``/``join_on``: the DIM-ENRICHED view shape (r8) —
        every folded delta is inner-joined to this (small, broadcast)
        dimension before the partial aggregate, so ``group_cols`` and
        measure expressions may reference dim attributes (fact ⋈ dim →
        group-by, e.g. revenue by the customer's nation).  Foldability
        contract — the dim is a VERSIONED BROADCAST:

        - the dim must be STABLE for the view's lifetime (pin it to a
          store version / static snapshot); a changed dim invalidates
          folded history — ``init_from_snapshot`` with the new dim.
        - inner-join semantics: fact rows with no dim match are OUTSIDE
          the view (and their retractions fold as no-ops, consistently);
          dim attributes used as group keys must be non-NULL (NULL group
          keys break the partial-merge join alignment).
        - enrichment is row-wise and deterministic, so exactly-once
          folding (sync/stream_sync cursors, crash replays) is preserved
          bit-for-bit."""
        for name, (kind, _expr) in measures.items():
            if kind not in _KINDS:
                raise ValueError(
                    f"measure {name!r}: kind {kind!r} not additive — "
                    f"supported: {sorted(_KINDS)}"
                )
        if (join_dim is None) != (join_on is None):
            raise ValueError("join_dim and join_on go together")
        super().__init__(spark, path)
        self.path = path
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.join_dim = join_dim
        self.join_on = list(join_on or [])

    def _enrich(self, df: DataFrame) -> DataFrame:
        if self.join_dim is None:
            return df
        return df.join(F.broadcast(self.join_dim), on=self.join_on, how="inner")

    @property
    def _subtractable(self) -> bool:
        return all(k in _SUBTRACTABLE for k, _ in self.measures.values())

    # -- maintenance -----------------------------------------------------
    def _partial(self, delta: DataFrame, sign: int = 1) -> DataFrame:
        """Grouped partials over ``delta`` (dim-enriched first when the
        view has a join_dim); ``sign=-1`` negates the subtractable
        measures (the retraction fold — only valid when every measure is
        subtractable, enforced by the caller)."""
        return self._partial_enriched(self._enrich(delta), sign)

    def _partial_enriched(self, delta: DataFrame, sign: int = 1) -> DataFrame:
        """Grouped partials over an ALREADY-ENRICHED frame — the
        _fold_changes retraction path joins affected groups in enriched
        space, so it must not re-enrich."""
        aggs = []
        for name, (kind, expr) in self.measures.items():
            part, _ = _KINDS[kind]
            src = F.lit(1) if kind == "count" else F.expr(expr)
            col = part(src)
            if sign < 0:
                col = -col
            aggs.append(col.alias(name))
        mult = F.count(F.lit(1))
        aggs.append((mult if sign > 0 else -mult).alias(_MULT))
        return delta.groupBy(*self.group_cols).agg(*aggs)

    def _merge(self, existing: DataFrame | None, delta: DataFrame) -> DataFrame:
        if existing is None:
            return delta
        names = [*self.measures, _MULT]
        keys = self.group_cols
        e = existing.select(
            *keys, *[F.col(m).alias(f"__e_{m}") for m in names]
        )
        cols = [F.col(k) for k in keys]
        for name in names:
            kind = "count" if name == _MULT else self.measures[name][0]
            _, combine = _KINDS[kind]
            cols.append(
                combine(F.col(name), F.col(f"__e_{name}")).alias(name)
            )
        return delta.join(e, on=keys, how="full_outer").select(*cols)

    # -- CDC maintenance (ManifestStore.read_changes) --------------------
    @staticmethod
    def _cursor_of(st: dict) -> int | None:
        return st["meta"][st["dirs"][0]]["cursor"] if st["dirs"] else None

    def _state(self) -> tuple[dict, DataFrame | None, int]:
        """The log snapshot, the installed partials, bookkeeping column
        included, and their cursor — None and 0 before the first
        install, so a fresh view folds the feed from version 0.  Only
        the dirs the view's log lists are read."""
        st = self.log.state()
        return st, self._existing("view", st), self._cursor_of(st) or 0

    def cursor(self) -> int | None:
        """Last store version folded by ``sync`` (None: never folded)."""
        return self._cursor_of(self.log.state())

    def init_from_snapshot(self, store, mode: str) -> int:
        """First fill / heal for a CDC-synced view: one full aggregate
        of the store's current snapshot, installed with the matching
        cursor.  (A fresh empty view can skip this and just ``sync`` —
        folding the whole change feed from version 0 is equivalent; this
        is the cheaper bootstrap for a store with deep history.)"""
        v = store.version(mode)
        fact = store.read_all(mode, at_version=v)
        if fact is None:
            raise ValueError(
                "empty store: nothing to aggregate — sync() from a fresh "
                "view instead (it folds the feed from version 0)"
            )
        self._install(self.log.state(), self._partial(fact), v)
        return v

    def sync(self, store, mode: str, snapshot: DataFrame | None = None) -> dict:
        """Fold every store change past this view's cursor, exactly once.

        Subtractable views (every measure sum/count) fold retractions
        (delete / update_preimage rows) NEGATIVELY and drop groups whose
        hidden row multiplicity reaches zero — exact with no fact scan.
        A view with min/max measures instead recomputes the retraction-
        touched groups from the version-pinned snapshot (semi-join keeps
        it bounded by those groups' rows); insert-only change sets fold
        additively either way.  The new cursor rides the commit that
        installs the fold, so the two are one atomic unit — a crash
        replays nothing.
        """
        st, existing, cur = self._state()
        v1 = store.version(mode)
        noop = {"from": cur, "to": cur, "pos_rows": 0, "neg_rows": 0,
                "recomputed_groups": 0}
        if v1 <= cur:
            return noop
        changes = store.read_changes(mode, from_version=cur, to_version=v1)
        if changes is None:
            if existing is not None:  # compaction-only span: advance cursor
                self._rewrite(st, {st["dirs"][0]: {"cursor": v1}})
                return dict(noop, to=v1)
            return noop
        return self._fold_changes(
            changes, st, cur, v1, existing, store, mode, snapshot
        )

    def _fold_changes(
        self,
        changes: DataFrame,
        st: dict,
        cur: int,
        v1: int,
        existing: DataFrame | None,
        store,
        mode: str,
        snapshot: DataFrame | None = None,
        materialized: bool = False,
    ) -> dict:
        """The change-fold core shared by ``sync`` (batch pull) and
        ``stream_sync`` (stockops_cdc micro-batches): fold ``changes``
        into the view and install with cursor ``v1`` atomically.

        The change set is materialized ONCE, with the pos/neg counts
        riding that job as Observations, so every consumer reads the
        checkpointed blocks.  ``materialized=True`` skips the
        checkpoint when the caller already pinned the frame
        (``stream_sync``'s per-batch fold); a span wider than
        ``SPAN_CKPT_MAX_COMMITS`` commits (a fresh-view bootstrap over
        deep history) is not pinned either — pinning the whole
        historical feed in executor memory is the risk — and both
        count in one grouped pass instead."""
        ct = F.col("_change_type")
        _POS_TYPES = ("insert", "update_postimage")
        _NEG_TYPES = ("delete", "update_preimage")
        n_pos = n_neg = None
        if not materialized and (v1 - cur) <= self.SPAN_CKPT_MAX_COMMITS:
            from pyspark.sql import Observation

            obs = Observation()
            changes = changes.observe(
                obs,
                F.sum(ct.isin(*_POS_TYPES).cast("long")).alias("n_pos"),
                F.sum(ct.isin(*_NEG_TYPES).cast("long")).alias("n_neg"),
            ).localCheckpoint(eager=True)
            n_pos = int(obs.get["n_pos"] or 0)
            n_neg = int(obs.get["n_neg"] or 0)
        else:
            by_type = {
                r["_change_type"]: r["n"]
                for r in changes.groupBy("_change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n_pos = sum(by_type.get(t, 0) for t in _POS_TYPES)
            n_neg = sum(by_type.get(t, 0) for t in _NEG_TYPES)
        pos = changes.where(ct.isin(*_POS_TYPES))
        neg = changes.where(ct.isin(*_NEG_TYPES))
        keys = self.group_cols
        n_recomputed = 0
        if n_neg == 0:
            merged = self._merge(existing, self._partial(pos))
        elif self._subtractable:
            merged = self._merge(existing, self._partial(pos))
            merged = self._merge(merged, self._partial(neg, sign=-1))
        else:
            # affected groups live in ENRICHED space (group cols may be
            # dim attributes), so enrich the change rows before deriving
            # them and semi/anti-join enriched frames throughout
            aff = (
                self._enrich(neg)
                .select(*keys)
                .distinct()
                .localCheckpoint(eager=True)
            )
            n_recomputed = aff.count()
            if snapshot is None:
                snapshot = store.read_all(mode, at_version=v1)
            recomputed = (
                self._partial_enriched(
                    self._enrich(snapshot).join(aff, on=keys, how="left_semi")
                )
                if snapshot is not None
                else None
            )
            # pos rows in affected groups are already inside the snapshot
            # recompute — folding them too would double-count
            pos_clean = self._enrich(pos).join(aff, on=keys, how="left_anti")
            merged = self._merge(existing, self._partial_enriched(pos_clean))
            merged = merged.join(aff, on=keys, how="left_anti")
            if recomputed is not None:
                merged = merged.unionByName(recomputed, allowMissingColumns=True)
        # a group's last live row retracted -> the group leaves the view
        merged = merged.where(F.col(_MULT) != 0)
        # no checkpoint here: the install writes merged into a fresh dir
        # while the dir it reads stays live, so one job materializes it
        self._install(st, merged, v1)
        return {"from": cur, "to": v1, "pos_rows": n_pos, "neg_rows": n_neg,
                "recomputed_groups": n_recomputed}

    def stream_sync(
        self,
        store,
        mode: str,
        checkpoint: str,
        available_now: bool = True,
        trigger_seconds: int = 10,
    ):
        """Maintain this view CONTINUOUSLY from the store's CDC stream —
        the closing of the loop: ManifestStore commits → ``stockops_cdc``
        (commit versions as stream offsets) → this view folding each
        micro-batch with exactly ``sync``'s semantics.

        Exactly-once despite ``foreachBatch``'s at-least-once replay:
        the view's OWN cursor (installed atomically with the data) drops
        any replayed rows at or below it before folding, so a crash
        between a fold and the stream checkpoint commit cannot
        double-count — the same idempotence discipline as the store's
        streaming ingest.  Vacuum/retention guards are inherited from
        the source: a cursor below the vacuum horizon or a cdc-less
        retention commit fails the stream loudly (re-bootstrap with
        ``init_from_snapshot``, then restart the stream)."""
        from stock_ops_spark.sources.pyds import register_data_sources

        register_data_sources(self.spark)
        view_self = self

        def fold(batch: DataFrame, _batch_id: int) -> None:
            st, existing, cur = view_self._state()
            fresh = batch.where(F.col("_commit_version") > cur)
            fresh = fresh.localCheckpoint(eager=True)
            row = fresh.agg(F.max("_commit_version")).collect()[0]
            if row[0] is None:
                return  # pure checkpoint replay: nothing new
            view_self._fold_changes(
                fresh, st, cur, int(row[0]), existing, store, mode,
                materialized=True,
            )

        stream = (
            self.spark.readStream.format("stockops_cdc")
            .option("store_root", store.root)
            .option("mode", mode)
            .load()
        )
        writer = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def _install(self, st: dict, df: DataFrame, version: int) -> dict:
        """Publish ``df`` (one file) as the view's next state with
        cursor ``version``: one rewrite commit of the view's log."""
        fresh = self._write("view", df.coalesce(1))
        return self._rewrite(st, {fresh: {"cursor": version}}, st["dirs"])

    # -- read ------------------------------------------------------------
    def read(self) -> DataFrame | None:
        """The raw partial-aggregate table (None before the first fold).
        The hidden row-multiplicity bookkeeping column stays hidden."""
        df = self._state()[1]
        if df is not None and _MULT in df.columns:
            df = df.drop(_MULT)
        return df

    def serve(self, **derived: str) -> DataFrame | None:
        """The view plus derived columns (SQL over the partials), e.g.
        ``serve(avg_px="px_cents / n / 100")``."""
        df = self.read()
        if df is None:
            return None
        for name, expr in derived.items():
            df = df.withColumn(name, F.expr(expr))
        return df
