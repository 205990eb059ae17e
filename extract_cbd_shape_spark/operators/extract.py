"""Bulk CBD + SHACL-shape-guided extraction as DataFrame programs.

This is the Spark-native re-creation of the reference's extraction
lifecycle (lib/CBDShapeExtractor.ts:305-508), generalized so that ONE
job extracts every member at once (the reference's bulkExtract,
lib/CBDShapeExtractor.ts:68-127, without its single-node worker pool).

Execution model
---------------
* All state is keyed by ``member_id``; members are the parallelism axis.
* CBD closure (lib/CBDShapeExtractor.ts:472-508) = iterative frontier
  self-join on the subject-keyed triples DataFrame; blank-node recursion
  guarded by an anti-join against a ``visited_cbd`` set.
* SHACL path matching (lib/Path.ts) = generated join/union plans;
  ``*``/``+``/``?`` paths are driver-controlled fixpoint loops with a
  per-(focus-instance) visited anti-join (lib/Path.ts:227-287).
* The reference's per-extraction topology trie
  (lib/CBDShapeExtractor.ts:185-279) is represented as a per-member set
  of reduced predicate-direction words (see shapes/ast.py); ``found()``
  short-circuits and required-path validation evaluate those word sets
  in Arrow-batched pandas UDFs over tiny per-member aggregates — the
  quad-heavy joins all stay JVM-side.
* nodeLink recursion (lib/CBDShapeExtractor.ts:419-441) = breadth-first
  rounds over a ``(member, node, shape)`` work set, memoized by an
  anti-join against ``visited_shape`` (the reference's
  maybeExtractRecursively memo, lib/CBDShapeExtractor.ts:361-372); ties
  within a round are claimed in nodeLink declaration order, matching the
  reference's depth-first pre-order.
* Out-of-band dereference (lib/CBDShapeExtractor.ts:326-359,443-459) is
  not performed at scale: entities with unsatisfied required paths are
  flagged ``needs_dereference``; an optional driver-side resolver (used
  by tests to emulate the reference's mocked fetches) feeds flagged URLs
  back into the store and reruns to fixpoint.

Scale notes
-----------
Joins are equi-joins on (node = subject) or (node = object): bucket or
repartition the triples table by subject for co-location; AQE handles
skewed hot subjects. Per-member pandas evaluation only touches word
sets (bounded by extraction size), never the quad stream.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple, Union

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extract_cbd_shape_spark.model import (
    BLANK,
    IRI,
    LITERAL,
    QUAD_COLS,
    Quad,
    Term,
    quad_schema,
    quad_to_row,
    rows_to_df,
)
from extract_cbd_shape_spark.shapes.ast import (
    STEP_SEP,
    AlternativePath,
    InversePath,
    MultiPath,
    Path,
    PredicatePath,
    SequencePath,
    ShapeTemplate,
    ROOT_WORD,
)
from extract_cbd_shape_spark.shapes.compiler import ShapesGraph

QUAD_STRUCT_DDL = (
    "struct<subject:string,subject_kind:tinyint,predicate:string,"
    "object_value:string,object_kind:tinyint,object_lang:string,"
    "object_datatype:string,graph:string,graph_kind:tinyint>"
)

# Frontier columns replaced by each path hop; everything else passes through.
_NODE_COLS = ["node", "node_kind", "node_lang", "node_datatype", "pos", "path_quads"]


def _shape_key(t: Optional[Term]) -> Optional[str]:
    if t is None:
        return None
    return f"{t.kind}:{t.value}"


@dataclass
class Member:
    """One extraction seed (bulkExtract input element)."""

    entity: Term
    shape: Optional[Term] = None
    graphs_to_ignore: Sequence[Term] = field(default_factory=tuple)


def _unwrap_inverse(path: Path):
    """Strip InversePath wrappers; returns (inner, inverse_flag)."""
    inv = False
    while isinstance(path, InversePath):
        inv = not inv
        path = path.path
    return path, inv


def _plan_stages(paths: List[Path]):
    """Group consecutive simple predicate paths into batched stages.

    A stage of simple (possibly inverse-wrapped) PredicatePaths with
    pairwise-distinct (predicate, inverse) keys can be gated and matched
    in ONE join pass: within such a stage, path A's trie pushes can
    never flip path B's found() result (their candidate words differ
    structurally), and a gated-out path's re-push is idempotent — the
    word is already in the trie, which is what made it gated. This
    collapses the reference's sequential per-path loop
    (lib/CBDShapeExtractor.ts:404-417) without changing its semantics.

    Yields ("simple", [(idx, predicate, inverse), ...]) or
    ("complex", idx).
    """
    out = []
    cur: List[tuple] = []
    seen = set()
    for idx, p in enumerate(paths):
        inner, inv = _unwrap_inverse(p)
        if isinstance(inner, PredicatePath):
            key = (inner.predicate, inv)
            if key in seen:
                out.append(("simple", cur))
                cur, seen = [], set()
            cur.append((idx, inner.predicate, inv))
            seen.add(key)
        else:
            if cur:
                out.append(("simple", cur))
                cur, seen = [], set()
            out.append(("complex", idx))
    if cur:
        out.append(("simple", cur))
    return out


def _sql_extend_word(pos: Column, sign: str, predicate: Column) -> Column:
    """Reduced-word push in pure SQL (mirrors shapes.ast.extend_word)."""
    opp = "-" if sign == "+" else "+"
    new_step = F.concat(F.lit(sign), predicate)
    opp_step = F.concat(F.lit(opp), predicate)
    arr = F.when(pos == "", F.array().cast("array<string>")).otherwise(
        F.split(pos, STEP_SEP)
    )
    last = F.try_element_at(arr, F.lit(-1))
    popped = F.array_join(F.slice(arr, F.lit(1), F.greatest(F.size(arr) - 1, F.lit(0))), STEP_SEP)
    appended = F.when(pos == "", new_step).otherwise(
        F.concat(pos, F.lit(STEP_SEP), new_step)
    )
    return F.when(last.isNotNull() & (last == opp_step), popped).otherwise(appended)


class BulkCBDShapeExtractor:
    """Spark-native equivalent of the reference CBDShapeExtractor."""

    def __init__(
        self,
        spark: SparkSession,
        shapes_graph: Optional[ShapesGraph] = None,
        cbd_default_graph: bool = False,
        resolver: Optional[Dict[str, List[Quad]]] = None,
        max_rounds: int = 32,
        max_deref_rounds: int = 8,
        store_distinct: bool = False,
        broadcast_members_max: int = 2_000_000,
    ):
        """``store_distinct`` is a caller contract: the triples input has
        no duplicate rows (true for snapshots this package writes —
        materialize_table output is deduplicated — and for any store
        ingested through a distinct). Under that contract the engine's
        pure-CBD output is duplicate-free by construction for
        default-graph quads (CBD frontiers are globally disjoint on
        (member, node), so each store row joins each member at most
        once), and the final uniqueQuads dedup (lib/Utils.ts:44-64)
        narrows to the named-graph slice where CBD emission can
        genuinely overlap the named-graph member pickup. For a
        default-graph web corpus that makes the whole extraction's
        output path SHUFFLE-FREE past the frontier joins — the
        100 TB regime this engine exists for. Leave False when the
        store may repeat quads; results then match the reference's
        per-extraction dedup exactly regardless of input duplication.

        ``broadcast_members_max`` selects the engine's physical join
        regime by the driver-known member-seed count (the one size the
        engine always knows without touching the corpus):

        * seeds <= the knob (**latency mode**): the store is persisted
          AS-IS (no subject repartition — at small scale that shuffle
          is a pure fixed-cost barrier before any work) and every
          frontier/member join whose build side has a driver-known row
          count within the knob is an explicit ``broadcast`` — the
          whole extraction becomes K map-side passes over the cached
          store, and inverse hops need no object-keyed second copy at
          all. Frontier counts are tracked per wave (the emptiness
          probe becomes a count on already-checkpointed rows), so a
          blank closure that outgrows the knob falls back to
          shuffle-hash for that wave — broadcasts stay bounded by
          construction, never by luck.
        * seeds > the knob (**scale mode**, the 100 TB regime): the
          original plan — store hash-partitioned by subject once and
          persisted (the SPOG index analogue), shuffle-hash frontier
          joins streaming the store side, object-keyed copy for
          inverse hops (POSG). Broadcasting a corpus-scaled seed set
          would be a driver/executor OOM; this is why the knob exists.

        Set 0 to force scale mode (plan-shape tests pin it); results
        are identical in both regimes — only join strategy changes.
        """
        self.spark = spark
        self.shapes_graph = shapes_graph
        self.cbd_default_graph = cbd_default_graph
        self.resolver = resolver or {}
        self.max_rounds = max_rounds
        self.max_deref_rounds = max_deref_rounds
        self.store_distinct = store_distinct
        self.broadcast_members_max = broadcast_members_max
        # persisted store copies / trie caches created by runs of this
        # extractor, released by release()
        self._persisted: List[DataFrame] = []

    def release(self) -> None:
        """Unpersist every cached artifact this extractor's runs created
        (subject-keyed store copy, object-keyed inverse copy, trie
        parts). Call once the returned result/flags DataFrames have been
        fully consumed — long-lived drivers that extract repeatedly
        would otherwise accumulate corpus-sized cache entries per run.
        Results stay CORRECT after release (result quads are lazy, so a
        later action re-runs its star joins against the un-cached store
        — slower, never wrong). Unpersisting an
        already-released DataFrame is a no-op, so calling this between
        every extraction is safe."""
        for df in self._persisted:
            df.unpersist(blocking=False)
        self._persisted = []

    # ------------------------------------------------------------------ API

    def extract(
        self,
        triples: DataFrame,
        members: Union[DataFrame, Sequence[Member], Sequence[Term]],
        shape: Optional[Term] = None,
        graphs_to_ignore: Optional[Sequence[Term]] = None,
        bulk: bool = False,
        members_distinct: bool = False,
    ) -> Tuple[DataFrame, DataFrame]:
        """Extract every member; returns (results, flags).

        results: member_id, entity, input_idx + quad columns.
        flags:   member_id, node, shape_key, missing (needs_dereference).

        ``members`` may be a DataFrame (columns: entity string,
        entity_kind tinyint; optional shape_key, input_idx) for
        large seed sets — the scale path; the resolver loop is only
        supported for sequence input. ``bulk=True`` additionally
        ignores, per member, every *other* member's named graph
        (lib/CBDShapeExtractor.ts:95-99).

        ``members_distinct`` is a caller contract for DataFrame
        members: the seed set has no duplicate (entity, entity_kind)
        rows (true for any ``.distinct()`` derivation — e.g. distinct
        subjects of a store). ``input_idx`` then derives
        DETERMINISTICALLY from the values (xxhash64), so the engine
        skips the seed-set checkpoint it otherwise needs to pin the
        nondeterministic ``monotonically_increasing_id`` — at corpus
        scale that's a full materialization of a billion-row seed set
        avoided; consumers re-derive the (narrow, pipelined) seed
        lineage instead. Duplicate seeds under this contract would
        collapse into one member. Without the contract (default),
        duplicates are preserved at their input positions, matching
        the reference's bulkExtract list semantics (positions come
        from per-partition row ids — a UNION of branches with
        overlapping partition numbering can collide; such callers
        should provide their own ``input_idx``). A caller-provided
        ``input_idx`` column is trusted to be DETERMINISTIC under
        recomputation (literals, hashes, row ids of a checkpointed
        frame — not a bare monotonically_increasing_id).
        """
        if isinstance(members, DataFrame):
            sk = F.lit(_shape_key(shape)).cast("string")
            mdf = members
            if "shape_key" not in mdf.columns:
                mdf = mdf.withColumn("shape_key", sk)
            if "entity_kind" not in mdf.columns:
                mdf = mdf.withColumn("entity_kind", F.lit(IRI).cast("tinyint"))
            if "input_idx" in mdf.columns:
                deterministic = True
            elif members_distinct:
                # distinct-seeds contract: ids derive from the values —
                # no checkpoint needed, the lineage is deterministic
                mdf = mdf.withColumn(
                    "input_idx", F.xxhash64("entity", "entity_kind"))
                deterministic = True
            else:
                mdf = mdf.withColumn(
                    "input_idx", F.monotonically_increasing_id()
                )
                deterministic = False
            mdf = mdf.withColumn(
                "member_id", F.xxhash64("entity", "entity_kind", "input_idx")
            )
            if not deterministic:
                # pin the nondeterministic ids before anything consumes
                # them twice
                mdf = mdf.localCheckpoint()
            # One cheap count over the seeds: the driver-known size
            # that picks latency vs scale mode (see ctor doc on
            # broadcast_members_max). For deterministic seeds this one
            # scan is the only job the seed set costs up front.
            n_members = mdf.count()
            # Seed shape keys are compile-time constants unless the
            # caller shipped a custom per-member shape_key column.
            init_keys = (
                {_shape_key(shape)}
                if "shape_key" not in members.columns else None
            )
            run = _Run(self, triples, mdf, bulk,
                       global_ignores=tuple(graphs_to_ignore or ()),
                       initial_shape_keys=init_keys,
                       n_members=n_members)
            return run.execute()

        norm: List[Member] = []
        for m in members:
            if isinstance(m, Member):
                mm = m
            else:
                mm = Member(entity=m)
            if mm.shape is None and shape is not None:
                mm = Member(mm.entity, shape, mm.graphs_to_ignore)
            if graphs_to_ignore:
                mm = Member(
                    mm.entity,
                    mm.shape,
                    tuple(mm.graphs_to_ignore) + tuple(graphs_to_ignore),
                )
            norm.append(mm)

        resolved: set = set()
        for _ in range(self.max_deref_rounds):
            run = _Run(self, triples, norm, bulk, n_members=len(norm))
            results, flags = run.execute()
            if not self.resolver:
                return results, flags
            flagged = [
                r.node for r in flags.select("node").distinct().collect()
            ]
            new_urls = [u for u in flagged if u in self.resolver and u not in resolved]
            if not new_urls:
                return results, flags
            extra: List[Quad] = []
            for u in new_urls:
                resolved.add(u)
                extra.extend(self.resolver[u])
            extra_df = rows_to_df(
                self.spark, [quad_to_row(q) for q in extra], quad_schema()
            )
            triples = triples.unionByName(extra_df).localCheckpoint()
        return results, flags

    def match_path(
        self,
        triples: DataFrame,
        path: Path,
        focus: Sequence[Term],
    ) -> DataFrame:
        """Match one SHACL path from the given focus nodes (lib/Path.ts
        match API). Returns target rows (member_id, node, node_kind,
        node_lang, node_datatype, pos, path_quads)."""
        run = _Run(self, triples, [Member(t) for t in focus], bulk=False,
                   n_members=len(focus))
        empty_quads = F.array().cast(f"array<{QUAD_STRUCT_DDL}>")
        focus_df = run.members_df.select(
            "member_id", "entity", "entity_kind",
            F.col("entity").alias("node"),
            F.col("entity_kind").alias("node_kind"),
            F.lit(None).cast("string").alias("node_lang"),
            F.lit(None).cast("string").alias("node_datatype"),
            F.lit(ROOT_WORD).alias("pos"),
        ).withColumn("path_quads", empty_quads)
        return run._match(path, focus_df)


class _Run:
    """One bulk extraction pass over a fixed store."""

    def __init__(self, ex: BulkCBDShapeExtractor, triples: DataFrame,
                 members: Union[List[Member], DataFrame], bulk: bool,
                 global_ignores: Sequence[Term] = (),
                 initial_shape_keys: Optional[set] = None,
                 n_members: Optional[int] = None):
        self.ex = ex
        self.spark = ex.spark
        self.bulk = bulk
        self.shapes = ex.shapes_graph
        # Latency vs scale physical regime (ctor doc on
        # broadcast_members_max): decided by the driver-known seed
        # count, refined per frontier by wave counts.
        self.n_members = n_members
        self.latency = (
            ex.broadcast_members_max > 0
            and n_members is not None
            and n_members <= ex.broadcast_members_max
        )
        # Row count of the current round's work set (seeds for round
        # 1); bounds every frontier/focus build side derived from it.
        self._round_count: Optional[int] = n_members
        # Broadcast exchanges issued so far (see _LATENCY_BCAST_BUDGET).
        self._bcasts = 0
        # Driver-known seed shape keys (None = unknown, collect once).
        self.initial_shape_keys = initial_shape_keys
        # graphs ignored for EVERY member (DataFrame-members path, where
        # per-member ignore pairs have no sequence to come from)
        self.global_ignores = tuple(global_ignores)

        if isinstance(members, DataFrame):
            self.members_df = members.select(
                "member_id", "entity", "entity_kind", "shape_key", "input_idx"
            )
            self.ignored_pairs = None
        else:
            member_rows = []
            ignore_rows = []
            for i, m in enumerate(members):
                member_rows.append(
                    (i, m.entity.value, m.entity.kind, _shape_key(m.shape), i)
                )
                for g in m.graphs_to_ignore:
                    ignore_rows.append((i, g.value))
            self.members_df = rows_to_df(
                self.spark, member_rows,
                "member_id long, entity string, entity_kind tinyint, "
                "shape_key string, input_idx long",
            )
            if self.initial_shape_keys is None:
                self.initial_shape_keys = {r[3] for r in member_rows}
            self.ignored_pairs = (
                rows_to_df(self.spark, ignore_rows,
                           "member_id long, graph string")
                if ignore_rows
                else None
            )

        # Tag each triple with whether its graph is a member's named graph
        # (bulk isolation rule, lib/CBDShapeExtractor.ts:79-99), computed
        # once. No broadcast hint: the graph list scales with the member
        # set, so AQE picks broadcast only when it truly fits; a giant
        # member set degrades to a shuffle join instead of a driver OOM.
        t = triples
        if bulk:
            member_graphs = self.members_df.filter(
                F.col("entity_kind") == IRI
            ).select(F.col("entity").alias("graph")).distinct()
            # Only quads in a NAMED graph can match a member graph: the
            # default-graph rows (the vast majority of a web corpus)
            # bypass the join entirely instead of being shuffled/sorted
            # against the member-scaled graph list.
            named = t.filter(F.col("graph").isNotNull()).join(
                member_graphs.withColumn("graph_is_member", F.lit(True)),
                "graph",
                "left",
            ).withColumn(
                "graph_is_member", F.coalesce(F.col("graph_is_member"), F.lit(False))
            )
            t = t.filter(F.col("graph").isNull()).withColumn(
                "graph_is_member", F.lit(False)
            ).unionByName(named)
        else:
            t = t.withColumn("graph_is_member", F.lit(False))
        # Hash-partition the store by subject once; the persisted
        # exchange output keeps its outputPartitioning, so every forward
        # join (frontier node = subject) reuses it and only the (small)
        # frontier side shuffles — the Spark analogue of the reference's
        # SPOG index (lib/Utils.ts:10-23). Inverse hops use a second,
        # object-keyed copy (the POSG ordering), built lazily on first
        # use (_obj_triples).
        if self.latency:
            # Latency mode: no subject repartition — frontier joins
            # broadcast their (counted-small) build side, so the store
            # needs no clustering at all; persist() caches the tagged
            # quads inside the first consuming job (no extra barrier)
            # for the later waves / final emission / pickup passes.
            # (A/B-measured: skipping the persist re-runs the caller's
            # store lineage — often a shuffle — per pass; 1.6-2x slower)
            self.triples = t.persist()
            ex._persisted.append(self.triples)
        else:
            # persist, not localCheckpoint: the repartition materializes
            # INSIDE the first wave's join job (no standalone ingest
            # barrier serializing the driver) and the cached exchange
            # output keeps its subject partitioning for every later
            # wave. Lineage is one exchange over the caller's scan, so
            # no checkpoint is needed to keep plans shallow.
            self.triples = t.repartition(
                F.col("subject"), F.col("subject_kind")
            ).persist()
            ex._persisted.append(self.triples)

        # Object-keyed store copy for inverse hops, built on first use.
        self._obj_copy: Optional[DataFrame] = None

        # Engine state.
        self.result_parts: List[DataFrame] = []
        self.trie_parts: List[DataFrame] = [
            self.members_df.select("member_id", F.lit(ROOT_WORD).alias("word"))
        ]
        # Cached trie checkpoints still alive (see _checkpoint_trie).
        self._trie_persisted: List[DataFrame] = []
        # visited set = lazy union of already-checkpointed frontier
        # parts: anti-joins are duplicate-insensitive, so no per-wave
        # distinct/checkpoint job is needed to maintain it. An empty
        # parts list elides the memo-skip branch driver-side.
        self._visited_cbd_parts: List[DataFrame] = []
        # Upper bound on the visited set's rows (latency mode: sum of
        # counted frontier adds) — lets the visited anti/semi-joins
        # broadcast their build side map-side instead of exchanging
        # both sides per probe. None = unknown (scale mode).
        self._visited_cbd_n: Optional[int] = 0 if self.latency else None
        self.processed_parts: List[DataFrame] = []  # for deref flagging
        # CBD emission: per-wave star joins are NOT appended
        # to result_parts individually — their (disjoint) frontiers
        # accumulate here and ONE fused (union-of-frontiers x store)
        # join emits every CBD quad in the final action (see execute).
        self._cbd_emit_frontiers: List[DataFrame] = []
        # Parallel per-frontier row counts (latency mode; None when
        # unknown) — their sum bounds the fused join's broadcast side.
        self._cbd_emit_counts: List[Optional[int]] = []

    # --------------------------------------------------------------- helpers

    def _graph_filter(self, df: DataFrame) -> DataFrame:
        """GraphFilter.has (lib/Path.ts:66, lib/CBDShapeExtractor.ts:95-99,
        491-494): explicit ignore list + (bulk) other members' graphs."""
        if self.global_ignores:
            df = df.filter(
                ~F.coalesce(
                    F.col("graph").isin([g.value for g in self.global_ignores]),
                    F.lit(False),
                )
            )
        if self.ignored_pairs is not None:
            df = df.join(
                F.broadcast(self.ignored_pairs), ["member_id", "graph"], "left_anti"
            )
        if self.bulk:
            df = df.filter(
                ~(
                    F.col("graph_is_member")
                    & F.coalesce(F.col("graph") != F.col("entity"), F.lit(False))
                )
            )
        return df

    # Broadcasts per run are CAPPED: every live broadcast exchange pins
    # a multi-MB JVM hash-relation page until the final action releases
    # the plans that reference it, so a deep recursion (hundreds of
    # rounds on a small store — e.g. a shapes graph extracting itself)
    # issuing one broadcast per wave would exhaust the driver heap on
    # tiny data. The early rounds carry virtually all the data volume;
    # once the budget is spent the run degrades to shuffle-hash joins
    # (small frontiers by then — the shuffle is tiny).
    _LATENCY_BCAST_BUDGET = 24

    def _seed(self, df: DataFrame, cnt: Optional[int]) -> DataFrame:
        """Physical hint for a frontier/member build side. Latency mode
        with a driver-known count within the knob (and broadcast budget
        left): explicit broadcast — the probe/store side then streams
        map-side with no exchange. Otherwise shuffle-hash: build the
        small side's hash table, stream the store — never sort it."""
        if (
            self.latency
            and cnt is not None
            and cnt <= self.ex.broadcast_members_max
            and self._bcasts < self._LATENCY_BCAST_BUDGET
        ):
            self._bcasts += 1
            return F.broadcast(df)
        return df.hint("shuffle_hash")

    def _obj_triples(self) -> DataFrame:
        """Object-keyed second copy of the store — the reference's POSG
        index ordering (lib/Utils.ts:10-23, lookup pattern
        ``(*, p, o=focus, *)`` of lib/Path.ts:52-64). Built lazily on
        the FIRST inverse hop and persisted, so every inverse join in
        every wave reuses one clustering instead of re-shuffling the
        corpus per wave. HashPartitioning on (object_value, object_kind)
        is a subset of the inverse join's keys, so it satisfies the
        join's clustered distribution — only the frontier side
        exchanges. Shapes without inverse paths never pay for it.

        Latency mode needs NO second copy: inverse joins broadcast the
        counted frontier against the cached store directly — the copy
        exists to give shuffle-hash joins a reusable clustering."""
        if self.latency:
            return self.triples
        if self._obj_copy is None:
            self._obj_copy = self.triples.repartition(
                F.col("object_value"), F.col("object_kind")
            ).persist()
            self.ex._persisted.append(self._obj_copy)
        return self._obj_copy

    def _visited_cbd_df(self) -> DataFrame:
        out = self._visited_cbd_parts[0]
        for p in self._visited_cbd_parts[1:]:
            out = out.unionByName(p)
        return out

    def _visited_cbd_add(self, part: DataFrame,
                         n: Optional[int] = None) -> None:
        self._visited_cbd_parts.append(part)
        if self._visited_cbd_n is not None:
            self._visited_cbd_n = (
                self._visited_cbd_n + n if n is not None else None
            )
        # deep recursions: cap lazy plan growth
        if len(self._visited_cbd_parts) > 8:
            self._visited_cbd_parts = [
                self._visited_cbd_df().distinct().localCheckpoint()
            ]

    def _trie_df(self) -> DataFrame:
        out = self.trie_parts[0]
        for p in self.trie_parts[1:]:
            out = out.unionByName(p)
        return out

    def _words_agg(self) -> DataFrame:
        return self._trie_df().groupBy("member_id").agg(
            F.collect_set("word").alias("_words")
        )

    def _checkpoint_trie(self) -> None:
        # persist, not localCheckpoint: stays lazy (no job when the trie
        # is never consumed again — e.g. final round of a simple shape);
        # parents are checkpointed so lineage stays shallow. Cached
        # tries must not accumulate over deep/recursive shapes: each
        # round unpersists the trie from TWO rounds ago — by then the
        # intermediate round's trie has been materialized by its gate
        # joins, so no lazy consumer still needs the dropped cache.
        new = self._trie_df().distinct().persist()
        self.ex._persisted.append(new)
        self.trie_parts = [new]
        self._trie_persisted.append(new)
        if len(self._trie_persisted) > 2:
            self._trie_persisted.pop(0).unpersist(blocking=False)

    # ------------------------------------------------------------------ CBD

    def _cbd(self, work: DataFrame,
             target_preds: frozenset = frozenset()) -> Optional[DataFrame]:
        """CBD star + blank-node closure (lib/CBDShapeExtractor.ts:472-508).

        Records each wave's frontier in _cbd_emit_frontiers (execute()
        emits their quads) and words into trie_parts; maintains the
        global per-member blank-visited set. Returns the wave-0 star
        rows projected to the nodeLink-target columns, so the simple-path
        stage and nodeLink target derivation reuse the wave join instead
        of re-running the same (frontier x store) join (VERDICT r2 #1:
        one materialization per wave).

        Each wave join stays lazy; only a narrow bookkeeping slice
        (blank frontier + rows matching ``target_preds``) is
        checkpointed, so write traffic scales with bookkeeping, not
        output.

        Memo-revisited wave-0 nodes (reference: extractRecursively always
        re-runs the star; only the BLANK recursion is guarded,
        lib/CBDShapeExtractor.ts:389-391,501-505) get a LAZY join with
        the same shape, unioned into the returned star: their re-emitted
        quads would just dedup away (never appended to results), their
        topology words at the NEW position are recorded lazily (consumed
        only by gates/flags), and their path targets surface through the
        star union — so a leaf round whose nodes were all CBD-visited
        runs NO eager join at all. Blank expansion comes from the fresh
        part only (a revisited node's children are already visited)."""
        extra = [c for c in ("ord", "shape_key") if c in work.columns]
        base = work.select(
            "member_id", "entity", "entity_kind", "node", "node_kind",
            "pos", *extra,
        )
        if not self._visited_cbd_parts:
            frontier = base
            skipped = None
        else:
            # Visited build side deliberately NOT broadcast: both sides
            # are bookkeeping-sized, the ABAB-measured win over a small
            # shuffle join was nil, and the set grows per wave —
            # per-wave broadcasts pinned O(waves) hash-relation pages in
            # the driver until the final action (OOM on deep
            # recursions; see _LATENCY_BCAST_BUDGET).
            visited = self._visited_cbd_df()
            frontier = base.join(
                visited, ["member_id", "node", "node_kind"], "left_anti"
            )
            skipped = base.join(
                visited, ["member_id", "node", "node_kind"], "left_semi"
            )
        self._visited_cbd_add(
            frontier.select("member_id", "node", "node_kind"),
            n=self._round_count)
        t = self.triples

        def star_join(f_rows: DataFrame, keep_extra: List[str],
                      f_count: Optional[int] = None) -> DataFrame:
            # Build on the (small) frontier: broadcast when its count
            # is driver-known small (latency mode), else shuffle_hash —
            # stream the subject-partitioned store, never sort it.
            f = self._seed(f_rows, f_count).alias("f")
            tt = t.alias("t")
            cond = (F.col("f.node") == F.col("t.subject")) & (
                F.col("f.node_kind") == F.col("t.subject_kind")
            )
            j = f.join(tt, cond, "inner")
            if self.ex.cbd_default_graph:
                # cbdDefaultGraph: star step restricted to the default
                # graph (lib/CBDShapeExtractor.ts:479).
                j = j.filter(F.col("t.graph").isNull())
            j = self._graph_filter(
                j.select(
                    "f.member_id", "f.entity", "f.entity_kind", "f.pos",
                    *[f"f.{c}" for c in keep_extra],
                    *[f"t.{c}" for c in QUAD_COLS],
                    "t.graph_is_member",
                )
            ).drop("graph_is_member")
            return j.withColumn(
                "_new_pos",
                _sql_extend_word(F.col("pos"), "+", F.col("predicate")),
            )

        target_cols = [
            "member_id", "entity", "entity_kind", *extra, "predicate",
            "object_value", "object_kind", "object_lang",
            "object_datatype", "_new_pos",
        ]

        def tproj(j: DataFrame) -> DataFrame:
            return j.select(*target_cols)

        def words(j: DataFrame) -> DataFrame:
            return j.select(
                "member_id", F.col("_new_pos").alias("word")).distinct()

        def star0() -> Optional[DataFrame]:
            if not star_parts:
                return None
            out = star_parts[0]
            for p in star_parts[1:]:
                out = out.unionByName(p)
            return out

        star_parts: List[DataFrame] = []
        # Wave frontier row count (latency mode): wave 0 is bounded by
        # the round's work set; later waves by the blank-children count
        # taken at the wave checkpoint (it doubles as emptiness probe).
        f_count = self._round_count
        if skipped is not None:
            lazy_star = star_join(skipped, extra, f_count)
            self.trie_parts.append(words(lazy_star))
            star_parts.append(tproj(lazy_star))
            # Revisit-heavy rounds (every node already CBD-visited —
            # typical for a nodeLink leaf round over nodes the blank
            # closure already walked): nothing fresh to star, so skip
            # the eager wave loop entirely — one cheap anti-join
            # emptiness probe instead of a full store-probe join.
            if frontier.isEmpty():
                return star0()
        wave = 0
        while True:
            joined = star_join(frontier, extra if wave == 0 else [], f_count)
            # Don't emit this wave's join as its own lazy result part
            # (the final action would then re-probe the persisted store
            # once PER WAVE — k corpus streams). Record the frontier
            # instead; execute() emits all CBD quads with ONE fused join
            # over the union of frontiers. Equivalent because frontiers
            # are globally disjoint on (member, node) (visited_cbd) and
            # every wave applies the same row filters.
            self._cbd_emit_frontiers.append(
                frontier.select(
                    "member_id", "entity", "entity_kind",
                    "node", "node_kind",
                )
            )
            self._cbd_emit_counts.append(f_count)
            self.trie_parts.append(words(joined))
            blank_children = (
                joined.filter(F.col("object_kind") == BLANK)
                .select(
                    "member_id", "entity", "entity_kind",
                    F.col("object_value").alias("node"),
                    F.col("object_kind").alias("node_kind"),
                    F.col("_new_pos").alias("pos"),
                )
                # never broadcast: see the visited anti-join above
                .join(
                    self._visited_cbd_df(),
                    ["member_id", "node", "node_kind"],
                    "left_anti",
                )
                # One CBD visit per (member, node); deterministic pos choice.
                .groupBy("member_id", "node", "node_kind")
                .agg(
                    F.min("pos").alias("pos"),
                    F.first("entity").alias("entity"),
                    F.first("entity_kind").alias("entity_kind"),
                )
            )
            # ONE fused job per wave — the star join, the
            # blank-children anti-join AND the next-frontier claim
            # aggregate all run inside a single checkpoint; the
            # emptiness probe and every later consumer (next wave's
            # join, visited anti-joins) read materialized rows
            # instead of re-running the aggregate (r2 profile: the
            # probe-and-recompute pattern cost ~0.6s of fixed serial
            # time per wave at 4 cores). Results and trie words stay
            # lazy on ``joined`` and re-execute once in the caller's
            # final action.
            tp = sorted(target_preds) if wave == 0 else []
            if tp:
                # Wave-0 additionally needs the nodeLink-target rows:
                # they share the SAME checkpoint as the frontier,
                # told apart by a NULL predicate (impossible for a
                # real quad; the frontier marker rows carry the
                # claimed node in the object columns).
                markers = blank_children.select(
                    "member_id", "entity", "entity_kind",
                    *[F.lit(None).cast("string").alias(c) for c in extra],
                    F.lit(None).cast("string").alias("predicate"),
                    F.col("node").alias("object_value"),
                    F.col("node_kind").alias("object_kind"),
                    F.lit(None).cast("string").alias("object_lang"),
                    F.lit(None).cast("string").alias("object_datatype"),
                    F.col("pos").alias("_new_pos"),
                )
                combined = (
                    joined.filter(F.col("predicate").isin(tp))
                    .select(*target_cols)
                    .unionByName(markers)
                    .localCheckpoint()
                )
                star_parts.append(
                    combined.filter(F.col("predicate").isNotNull()))
                nxt = combined.filter(F.col("predicate").isNull()).select(
                    "member_id", "entity", "entity_kind",
                    F.col("object_value").alias("node"),
                    F.col("object_kind").alias("node_kind"),
                    F.col("_new_pos").alias("pos"),
                )
            else:
                nxt = blank_children.localCheckpoint()
            if self.latency:
                # Latency mode: the emptiness probe is a count over the
                # just-checkpointed rows — same single cheap job, and
                # the count bounds the next wave's broadcast.
                f_count = nxt.count()
                if f_count == 0:
                    return star0()
            else:
                if nxt.isEmpty():
                    return star0()
                f_count = None
            self._visited_cbd_add(nxt.select("member_id", "node", "node_kind"),
                                  n=f_count)
            frontier = nxt.select(
                "member_id", "entity", "entity_kind", "node", "node_kind", "pos"
            )
            wave += 1

    # --------------------------------------------------------- path matching

    def _match(self, path: Path, focus: DataFrame, inverse: bool = False) -> DataFrame:
        """Compile one Path into a DataFrame plan. ``focus`` must carry the
        frontier columns + ``path_quads``; returns rows with the same layout
        whose node columns are the new targets (lib/Path.ts match methods).
        Words are appended to trie_parts as a side effect — the reference's
        match also mutates the trie (lib/Path.ts:69)."""
        if isinstance(path, PredicatePath):
            return self._match_predicate(path, focus, inverse)
        if isinstance(path, SequencePath):
            cur = focus
            for step in path.sequence:
                cur = self._match(step, cur, inverse)
            return cur
        if isinstance(path, AlternativePath):
            outs = [self._match(b, focus, inverse) for b in path.alternatives]
            res = outs[0]
            for o in outs[1:]:
                res = res.unionByName(o)
            return res
        if isinstance(path, InversePath):
            return self._match(path.path, focus, not inverse)
        if isinstance(path, MultiPath):
            return self._match_multi(path, focus, inverse)
        raise TypeError(f"unknown path type {type(path)}")

    def _match_predicate(self, path: PredicatePath, focus: DataFrame,
                         inverse: bool) -> DataFrame:
        f = focus.hint("shuffle_hash").alias("f")
        tt = (self._obj_triples() if inverse else self.triples).alias("t")
        pred = F.col("t.predicate") == F.lit(path.predicate)
        if not inverse:
            cond = (
                (F.col("f.node") == F.col("t.subject"))
                & (F.col("f.node_kind") == F.col("t.subject_kind"))
                & pred
            )
            tgt_value, tgt_kind = F.col("t.object_value"), F.col("t.object_kind")
            tgt_lang, tgt_dt = F.col("t.object_lang"), F.col("t.object_datatype")
        else:
            cond = (
                (F.col("f.node") == F.col("t.object_value"))
                & (F.col("f.node_kind") == F.col("t.object_kind"))
                & F.col("f.node_lang").eqNullSafe(F.col("t.object_lang"))
                & F.col("f.node_datatype").eqNullSafe(F.col("t.object_datatype"))
                & pred
            )
            tgt_value, tgt_kind = F.col("t.subject"), F.col("t.subject_kind")
            tgt_lang, tgt_dt = F.lit(None).cast("string"), F.lit(None).cast("string")

        pass_cols = [c for c in focus.columns if c not in _NODE_COLS]
        joined = f.join(tt, cond, "inner")
        joined = self._graph_filter(
            joined.select(
                *[F.col(f"f.{c}").alias(c) for c in pass_cols],
                F.col("f.pos").alias("_old_pos"),
                F.col("f.path_quads").alias("_old_quads"),
                tgt_value.alias("node"),
                tgt_kind.alias("node_kind"),
                tgt_lang.alias("node_lang"),
                tgt_dt.alias("node_datatype"),
                *[F.col(f"t.{c}").alias(f"_q_{c}") for c in QUAD_COLS],
                F.col("t.graph_is_member"),
            ).withColumn("graph", F.col("_q_graph"))
        ).drop("graph", "graph_is_member")
        sign = "-" if inverse else "+"
        joined = joined.withColumn(
            "pos", _sql_extend_word(F.col("_old_pos"), sign, F.col("_q_predicate"))
        )
        self.trie_parts.append(
            joined.select("member_id", F.col("pos").alias("word")).distinct()
        )
        quad_struct = F.struct(
            *[F.col(f"_q_{c}").alias(c) for c in QUAD_COLS]
        )
        out = joined.withColumn(
            "path_quads", F.concat(F.col("_old_quads"), F.array(quad_struct))
        ).select(*pass_cols, *_NODE_COLS)
        return out

    def _match_multi(self, path: MultiPath, focus: DataFrame,
                     inverse: bool) -> DataFrame:
        """MultiPath BFS with per-focus-instance visited set
        (lib/Path.ts:227-287). The match-root column gets a unique name
        so nested MultiPaths don't clobber each other's bookkeeping."""
        self._mroot_counter = getattr(self, "_mroot_counter", 0) + 1
        mroot = f"_mroot_{self._mroot_counter}"
        root = focus.withColumn(
            mroot,
            F.xxhash64(
                "member_id", "node", "node_kind",
                F.coalesce("node_lang", F.lit("")),
                F.coalesce("node_datatype", F.lit("")),
                "pos",
            ),
        ).localCheckpoint()
        visited = root.select(
            "member_id", mroot, "node", "node_kind", "node_lang", "node_datatype"
        ).distinct()
        targets = root
        out_parts: List[DataFrame] = []
        i = 0
        while True:
            if targets.isEmpty():
                break
            if path.admits(i):
                out_parts.append(targets)
            if path.max_count is not None and i >= path.max_count:
                break
            expanded = self._match(path.path, targets, inverse).localCheckpoint()
            hit_cols = ["member_id", mroot, "node", "node_kind",
                        "node_lang", "node_datatype"]
            vis = visited.select(
                *[F.col(c).alias(f"_v_{c}") for c in hit_cols]
            ).withColumn("_seen", F.lit(True))
            tagged = expanded.join(
                vis,
                on=(
                    (F.col("member_id") == F.col("_v_member_id"))
                    & (F.col(mroot) == F.col(f"_v_{mroot}"))
                    & (F.col("node") == F.col("_v_node"))
                    & (F.col("node_kind") == F.col("_v_node_kind"))
                    & F.col("node_lang").eqNullSafe(F.col("_v_node_lang"))
                    & F.col("node_datatype").eqNullSafe(F.col("_v_node_datatype"))
                ),
                how="left",
            ).drop(*[f"_v_{c}" for c in hit_cols])
            seen = tagged.filter(F.col("_seen").isNotNull()).drop("_seen")
            fresh = tagged.filter(F.col("_seen").isNull()).drop("_seen")
            # Re-reached targets are admitted (at i+1) but not re-expanded
            # (lib/Path.ts:270-277).
            if path.admits(i + 1):
                out_parts.append(seen)
            # The reference adds each fresh target to visited as it appears:
            # the first duplicate within a wave expands, the rest are treated
            # as re-reached (admitted at i+1, not expanded).
            fresh = fresh.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(
                        "member_id", mroot, "node", "node_kind",
                        "node_lang", "node_datatype"
                    ).orderBy(F.col("pos"), F.xxhash64("path_quads"))
                ),
            ).localCheckpoint()
            dupes = fresh.filter(F.col("_rn") > 1).drop("_rn")
            fresh = fresh.filter(F.col("_rn") == 1).drop("_rn")
            if path.admits(i + 1):
                out_parts.append(dupes)
            visited = visited.unionByName(
                fresh.select(*hit_cols)
            ).distinct().localCheckpoint()
            targets = fresh
            i += 1
        if not out_parts:
            return root.drop(mroot).limit(0)
        res = out_parts[0]
        for p in out_parts[1:]:
            res = res.unionByName(p)
        return res.drop(mroot)

    # ------------------------------------------------------------ found gate

    def _gate_found(self, work: DataFrame, paths: List[Path]) -> DataFrame:
        """Add a ``_gates`` array<boolean> column: per path, True when the
        path was already witnessed (lib/CBDShapeExtractor.ts:408)."""
        words = self._words_agg()
        w = work.join(words, "member_id", "left")
        paths_local = list(paths)

        @F.pandas_udf("array<boolean>")
        def gates(pos: pd.Series, word_lists: pd.Series) -> pd.Series:
            out = []
            for p, wl in zip(pos, word_lists):
                ws = frozenset(wl) if wl is not None else frozenset()
                out.append([pt.found(ws, p) is not None for pt in paths_local])
            return pd.Series(out)

        return w.withColumn("_gates", gates(F.col("pos"), F.col("_words"))).drop(
            "_words"
        )

    # ---------------------------------------------------------- shape rounds

    def execute(self) -> Tuple[DataFrame, DataFrame]:
        empty_quads = F.array().cast(f"array<{QUAD_STRUCT_DDL}>")
        work = self.members_df.select(
            "member_id", "entity", "entity_kind",
            F.col("entity").alias("node"),
            F.col("entity_kind").alias("node_kind"),
            F.lit(None).cast("string").alias("node_lang"),
            F.lit(None).cast("string").alias("node_datatype"),
            F.lit(ROOT_WORD).alias("pos"),
            F.lit("").alias("ord"),
            F.col("shape_key"),
        )
        # members_df is checkpointed at ingest, so seed work/visited are
        # one narrow projection away from materialized data — keep them
        # lazy (eager checkpoints here re-wrote the member set twice).
        # visited is maintained as a lazy union of per-round checkpointed
        # work parts: the anti-join consumer reads each part from its
        # checkpoint instead of recomputing the claim aggregate.
        visited_parts: List[DataFrame] = [
            work.filter(F.col("node_kind") != LITERAL).select(
                "member_id", "node", "node_kind"
            )
        ]
        def _visited_shape() -> DataFrame:
            # small x small anti-join build side — never broadcast (the
            # memo is rebuilt per round; see the visited anti-join in _cbd)
            out = visited_parts[0]
            for p in visited_parts[1:]:
                out = out.unionByName(p)
            return out

        rounds = 0
        # Shape keys are tracked DRIVER-SIDE: the seed keys are known at
        # compile time (or computed once), and every later round's
        # possible keys are exactly the nodeLink child keys of the
        # shapes just processed — so the common linear-shape-DAG case
        # never runs a per-round distinct().collect() (VERDICT r1 §8).
        # Only when several keys are possible do we collect to prune,
        # since processing a phantom key costs empty-frontier jobs.
        candidates = self.initial_shape_keys
        while rounds < self.ex.max_rounds:
            if self.latency:
                # round count known: seeds for round 1, the work
                # checkpoint's count (taken below) afterwards — the
                # emptiness probe costs no extra job in this mode.
                if self._round_count == 0:
                    break
            elif work.isEmpty():
                break
            rounds += 1
            if candidates is not None and len(candidates) == 1:
                shape_keys = list(candidates)
            else:
                shape_keys = [
                    r.shape_key
                    for r in work.select("shape_key").distinct().collect()
                ]
            new_work_parts: List[DataFrame] = []
            next_candidates: set = set()
            shapes_by_key = {sk: self._resolve_shape(sk)
                             for sk in shape_keys}
            # ONE batched CBD pass per ROUND for every non-closed shape:
            # CBD is shape-independent, and the claim aggregate made the
            # round's work rows disjoint on (member, node) across keys,
            # so the merged wave loop visits exactly the union the
            # per-key calls visited — but pays the per-wave fixed costs
            # (anti-join probe, wave jobs, emptiness checks) ONCE
            # instead of once per shape key. Each key's path stages
            # then slice the shared wave-0 star by its shape_key column
            # (carried through _cbd's ``extra`` columns).
            cbd_keys = [sk for sk in shape_keys
                        if shapes_by_key[sk] is None
                        or not shapes_by_key[sk].closed]
            star0_all = None
            if cbd_keys:
                if len(cbd_keys) == len(shape_keys):
                    cbd_work = work
                else:
                    cond = None
                    for sk in cbd_keys:
                        t = F.col("shape_key").eqNullSafe(
                            F.lit(sk).cast("string"))
                        cond = t if cond is None else (cond | t)
                    cbd_work = work.filter(cond)
                all_link_preds = set()
                for sk in cbd_keys:
                    sh = shapes_by_key[sk]
                    if sh is not None:
                        for nl in sh.all_node_links():
                            if isinstance(nl.path_pattern, PredicatePath):
                                all_link_preds.add(
                                    nl.path_pattern.predicate)
                star0_all = self._cbd(
                    cbd_work, target_preds=frozenset(all_link_preds))
            for sk in shape_keys:
                # work is checkpointed each round; the filter is cheap to
                # recompute, no extra materialization needed.
                if len(shape_keys) == 1:
                    sub = work
                else:
                    sub = work.filter(
                        F.col("shape_key").eqNullSafe(F.lit(sk).cast("string"))
                    )
                shape = shapes_by_key[sk]
                if shape is not None:
                    for nl in shape.all_node_links():
                        next_candidates.add(_shape_key(nl.link))
                if sk in cbd_keys and star0_all is not None:
                    star0_sub = (
                        star0_all if len(shape_keys) == 1
                        else star0_all.filter(
                            F.col("shape_key").eqNullSafe(
                                F.lit(sk).cast("string")))
                    )
                else:
                    star0_sub = None
                new_work_parts.extend(self._process_shape(
                    sub, shape, sk, first_round=(rounds == 1),
                    star0=star0_sub, cbd_done=True))
            candidates = next_candidates
            self._checkpoint_trie()
            if not new_work_parts:
                break
            nw = new_work_parts[0]
            for p in new_work_parts[1:]:
                nw = nw.unionByName(p)
            # maybeExtractRecursively memo: one shape extraction per
            # (member, node); literals are never memoized (RDFMap ignores
            # them, lib/Shape.ts:119-127).
            # No standalone dropDuplicates: the claim aggregate below
            # already collapses non-literal rows to one per (member,
            # node), and literal rows get their own dedup — a separate
            # distinct would just add a shuffle of the same data.
            non_lit = nw.filter(F.col("node_kind") != LITERAL).join(
                _visited_shape(), ["member_id", "node", "node_kind"], "left_anti"
            )
            # Claim one row per (member, node) by minimum ``ord`` with a
            # hash aggregate (partial map-side combine) instead of a
            # row_number window: the window forced a full sort of the
            # round's work set per partition. struct-min keeps the same
            # winner (min ord = nodeLink declaration order) and makes
            # ties deterministic (lexicographic on the remaining cols).
            rest = [c for c in non_lit.columns
                    if c not in ("member_id", "node", "node_kind")]
            claim = (
                non_lit.groupBy("member_id", "node", "node_kind")
                .agg(F.min(F.struct(
                    "ord", *[c for c in rest if c != "ord"])).alias("_w"))
                .select(
                    "member_id", "node", "node_kind",
                    *[F.col(f"_w.{c}").alias(c) for c in rest],
                )
            )
            lit_work = nw.filter(F.col("node_kind") == LITERAL).dropDuplicates()
            # Eager checkpoint deliberately kept even for the LAST
            # round's work set: keeping it lazy was tried (round 4) and
            # moved the claim aggregate's cost into the loop's isEmpty
            # probe and _cbd's frontier probes, which re-ran it 2-3x —
            # one materialization consumed by several eager probes wins.
            work = claim.unionByName(lit_work).localCheckpoint()
            if self.latency:
                # next round's count (cheap: work just materialized);
                # doubles as the loop's emptiness probe.
                self._round_count = work.count()
            # The claimed rows are inside work's checkpoint — the next
            # round's visited anti-join reads them from there for free.
            visited_parts.append(
                work.filter(F.col("node_kind") != LITERAL).select(
                    "member_id", "node", "node_kind"
                )
            )

        # Wide mode: when CBD emission runs as the ONE fused
        # (union-of-frontiers x store) join, the member
        # attribute columns are attached to the SMALL side (the
        # frontier union / the pickup's member side) before the store
        # join, so the final action never joins the corpus-sized output
        # against the member table. Applies to pure-CBD/all-paths-elided
        # runs always, and — under the store_distinct contract — to
        # witness-emitting runs too: the witness slice is deduplicated
        # and reconciled against the CBD emission on its own (small)
        # slice, so the corpus-sized CBD bulk STREAMS with no
        # full-output exchange at all (see the witness handling below).
        # Two cases keep the narrow layout + full-output dedup: runs
        # with no CBD frontier (every shape closed), and witness-emitting
        # runs over a store without the store_distinct contract.
        fused = bool(self._cbd_emit_frontiers)
        witness_parts = list(self.result_parts)
        small_witness = fused and self.ex.store_distinct and bool(witness_parts)
        wide = fused and (not witness_parts or small_witness)
        if small_witness:
            # Witness parts leave result_parts: they re-enter below on
            # their own deduplicated, visited-reconciled slice.
            self.result_parts = []
        attr_cols = ["entity", "entity_kind", "shape_key", "input_idx"]

        # Fused CBD emission: one (union-of-frontiers x store)
        # join replaces k per-wave lazy joins in the final action — the
        # persisted store streams ONCE instead of once per wave. The
        # filters mirror _cbd.star_join exactly; results never need the
        # trie position, so _new_pos is not recomputed here.
        if self._cbd_emit_frontiers:
            fr = self._cbd_emit_frontiers[0]
            for p in self._cbd_emit_frontiers[1:]:
                fr = fr.unionByName(p)
            fr_count = (
                sum(self._cbd_emit_counts)
                if all(c is not None for c in self._cbd_emit_counts)
                else None
            )
            if wide:
                # shape_key/input_idx ride the frontier (orders of
                # magnitude narrower than the output); entity columns
                # are already there.
                fr = fr.join(
                    self._seed(
                        self.members_df.select(
                            "member_id", "shape_key", "input_idx"
                        ),
                        self.n_members,
                    ),
                    "member_id",
                )
            f = self._seed(fr, fr_count).alias("f")
            tt0 = self.triples.alias("t")
            j = f.join(
                tt0,
                (F.col("f.node") == F.col("t.subject"))
                & (F.col("f.node_kind") == F.col("t.subject_kind")),
                "inner",
            )
            if self.ex.cbd_default_graph:
                j = j.filter(F.col("t.graph").isNull())
            j = self._graph_filter(
                j.select(
                    "f.member_id", "f.entity", "f.entity_kind",
                    *[f"f.{c}" for c in ("shape_key", "input_idx") if wide],
                    *[f"t.{c}" for c in QUAD_COLS],
                    "t.graph_is_member",
                )
            ).drop("graph_is_member")
            proj = (["member_id", *QUAD_COLS, *attr_cols] if wide
                    else ["member_id", *QUAD_COLS])
            self.result_parts.append(j.select(*proj))

        # Named-graph member pickup (lib/CBDShapeExtractor.ts:317-324) —
        # graph filters do NOT apply here.
        m = self._seed(self.members_df, self.n_members).alias("m")
        tt = self.triples.alias("t")
        pickup_attrs = [f"m.{c}" for c in attr_cols] if wide else []
        pickup = m.join(
            tt,
            (F.col("m.entity") == F.col("t.graph"))
            & (F.col("m.entity_kind") == F.col("t.graph_kind")),
            "inner",
        ).select("m.member_id", *[f"t.{c}" for c in QUAD_COLS],
                 *pickup_attrs)
        self.result_parts.append(pickup)

        if small_witness:
            # Witness quads are a narrow, witness-scaled slice (#paths x
            # #members rows, never corpus-sized): dedup THEM, not the
            # full output. Under store_distinct a witness quad is in the
            # fused CBD emission iff its subject node is CBD-visited for
            # the same member — the store holds one copy of the quad,
            # CBD emitted every quad of every visited subject under the
            # SAME per-member _graph_filter the witness match applied —
            # so a left-anti join against the (bookkeeping-sized)
            # visited set removes exactly the overlap and the
            # corpus-sized CBD bulk needs no dedup exchange. The one
            # CBD-only row filter witnesses don't share is the
            # cbdDefaultGraph graph-IS-NULL restriction: with that flag
            # the anti-join narrows to the default-graph witness slice
            # (named witness rows flow into the named-slice dedup with
            # the pickup below).
            wit = witness_parts[0]
            for p in witness_parts[1:]:
                wit = wit.unionByName(p)
            wit = wit.dropDuplicates(["member_id", *QUAD_COLS])
            visited = self._visited_cbd_df().select(
                "member_id",
                F.col("node").alias("subject"),
                F.col("node_kind").alias("subject_kind"),
            )
            anti_keys = ["member_id", "subject", "subject_kind"]
            # ONE end-of-run anti-join: a single budget-counted
            # broadcast here is safe (released right after the final
            # action), unlike the per-wave visited probes in _cbd
            visited = self._seed(visited, self._visited_cbd_n)
            if self.ex.cbd_default_graph:
                wit = (
                    wit.filter(F.col("graph").isNull())
                    .join(visited, anti_keys, "left_anti")
                    .unionByName(
                        wit.filter(F.col("graph").isNotNull())
                    )
                )
            else:
                wit = wit.join(visited, anti_keys, "left_anti")
            # attrs ride the (small) witness slice — broadcast in
            # latency mode, shuffle_hash otherwise (AQE still free to
            # broadcast the member side when it fits).
            wit = wit.join(
                self._seed(
                    self.members_df.select("member_id", *attr_cols),
                    self.n_members,
                ),
                "member_id",
            )
            self.result_parts.append(wit)

        results = self.result_parts[0] if self.result_parts else pickup.limit(0)
        for p in self.result_parts[1:]:
            results = results.unionByName(p)
        if wide and self.ex.store_distinct:
            # store_distinct contract (ctor doc): default-graph rows of
            # the fused CBD join are already unique per (member, quad)
            # — disjoint frontiers x duplicate-free store — and the
            # pickup only ever matches NAMED graphs, so the dedup
            # narrows to the graph IS NOT NULL slice. The dominant
            # (default-graph) slice streams straight to the caller:
            # no full-output shuffle at all.
            nullg = results.filter(F.col("graph").isNull())
            named = results.filter(F.col("graph").isNotNull())
            results = nullg.unionByName(
                named.dropDuplicates(["member_id", *QUAD_COLS])
            )
        elif wide:
            # Attribute columns are functions of member_id (a dedup
            # key), so any surviving row carries the right values — no
            # post-dedup join needed.
            results = results.dropDuplicates(["member_id", *QUAD_COLS])
        else:
            # No broadcast hint: the member set scales with the corpus
            # (at web scale it's billions of rows — building that on the
            # driver is the failure mode). AQE sees the true build-side
            # size at runtime and picks broadcast when members are
            # genuinely small. shuffle_hash (build = members): without
            # it this falls to a sort-merge join that SORTS the full
            # output by member_id — at corpus scale the single most
            # memory-bandwidth-expensive step of the final action;
            # hashing the member side streams the output unsorted.
            #
            # ONE full-output exchange, not two: hash-partitioning by
            # member_id alone satisfies BOTH the dedup's clustering
            # requirement (equal (member_id, quad) keys co-locate under
            # any key-subset partitioning) and the member join's, so
            # the full-quad-key exchange the bare dropDuplicates would
            # insert is elided (measured 2.2x on the final action of
            # witness-emitting runs). Skew exposure is unchanged: the
            # join already hashed the full output by member_id.
            results = (
                results.repartition(F.col("member_id"))
                .dropDuplicates(["member_id", *QUAD_COLS])
                .join(self._seed(self.members_df, self.n_members),
                      "member_id")
            )
        # Returned LAZY: eagerly checkpointing here materialized the
        # full output once to storage and again at the caller's action —
        # a second corpus-sized pass for nothing when the caller only
        # counts/writes it. Only very deep recursions (many lazy parts)
        # checkpoint, to bound plan-compile time.
        if len(self.result_parts) > 32:
            results = results.localCheckpoint()

        flags = self._compute_flags(results)
        return results, flags

    def _resolve_shape(self, shape_key: Optional[str]) -> Optional[ShapeTemplate]:
        if shape_key is None or self.shapes is None:
            return None
        kind, _, value = shape_key.partition(":")
        return self.shapes.shapes.get((int(kind), value))

    def _process_shape(
        self, work: DataFrame, shape: Optional[ShapeTemplate],
        shape_key: Optional[str], first_round: bool = False,
        star0: Optional[DataFrame] = None, cbd_done: bool = False,
    ) -> List[DataFrame]:
        """One extractRecursively pass for all members at this shape
        (lib/CBDShapeExtractor.ts:374-462). Returns new-work parts."""
        if shape is not None:
            self.processed_parts.append(
                work.select("member_id", "node", "node_kind", "pos").withColumn(
                    "shape_key", F.lit(shape_key)
                )
            )
        # Predicates some nodeLink needs targets for: when a non-closed
        # forward simple stage is elided (witnesses subset of the CBD
        # star, see _process_simple_stage), only these predicates still
        # need their targets — derived from the CBD wave-0 star.
        link_preds = (
            {
                nl.path_pattern.predicate
                for nl in shape.all_node_links()
                if isinstance(nl.path_pattern, PredicatePath)
            }
            if shape is not None else set()
        )
        if (not cbd_done) and (shape is None or not shape.closed):
            # standalone use (execute passes cbd_done=True with the
            # round-batched star0 — see the round loop)
            star0 = self._cbd(work, target_preds=frozenset(link_preds))
        if shape is None:
            return []

        empty_quads = F.array().cast(f"array<{QUAD_STRUCT_DDL}>")
        focus_base = work.withColumn("path_quads", empty_quads)

        match_paths = shape.match_paths()
        # Per-path match results for nodeLink reuse
        # (lib/CBDShapeExtractor.ts:399,419-428).
        matched_targets: Dict[int, DataFrame] = {}
        gated_out_rows: Dict[int, Optional[DataFrame]] = {}
        self._simple_targets_by_pred: Dict[str, DataFrame] = {}
        for kind, payload in _plan_stages(match_paths):
            if kind == "simple":
                self._process_simple_stage(
                    shape, focus_base, match_paths, payload,
                    matched_targets, gated_out_rows, link_preds,
                    star0=star0, first_round=first_round,
                )
                continue
            path = match_paths[payload]
            if shape.closed:
                rows = focus_base
                skipped = None
            else:
                gated = self._gate_found(focus_base, [path])
                gated = gated.withColumn("_skip", F.element_at("_gates", 1)).drop(
                    "_gates"
                ).localCheckpoint()
                rows = gated.filter(~F.col("_skip")).drop("_skip")
                skipped = gated.filter(F.col("_skip")).drop("_skip")
            targets = self._match(path, rows).localCheckpoint()
            matched_targets[id(path)] = targets
            gated_out_rows[id(path)] = skipped
            # Only the paths loop emits witness quads
            # (lib/CBDShapeExtractor.ts:409-416).
            quads = targets.select(
                "member_id", F.explode("path_quads").alias("_q")
            ).select("member_id", *[F.col(f"_q.{c}").alias(c) for c in QUAD_COLS])
            self.result_parts.append(quads)

        new_work: List[DataFrame] = []
        for li, nl in enumerate(shape.all_node_links()):
            pid = id(nl.path_pattern)
            parts = []
            # fallback_rows=None: no gated-out rows exist, so no fallback
            # match is needed — decided driver-side, no isEmpty job.
            if pid in matched_targets:
                parts.append(matched_targets[pid])
                fallback_rows = gated_out_rows[pid]
            elif (
                isinstance(nl.path_pattern, PredicatePath)
                and nl.path_pattern.predicate in self._simple_targets_by_pred
            ):
                parts.append(
                    self._simple_targets_by_pred[nl.path_pattern.predicate])
                fallback_rows = None
            else:
                fallback_rows = focus_base
            if fallback_rows is not None and not fallback_rows.isEmpty():
                # nodeLink fallback match: trie pushes happen, but matched
                # quads are NOT added to the result
                # (lib/CBDShapeExtractor.ts:421-428 uses only match.target).
                parts.append(self._match(nl.path_pattern, fallback_rows))
            if not parts:
                continue
            tgt = parts[0]
            for p in parts[1:]:
                tgt = tgt.unionByName(p)
            child_key = _shape_key(nl.link)
            new_work.append(
                tgt.select(
                    "member_id", "entity", "entity_kind",
                    "node", "node_kind", "node_lang", "node_datatype", "pos",
                    F.concat(F.col("ord"), F.lit("."),
                             F.lit(f"{li:04x}")).alias("ord"),
                    F.lit(child_key).alias("shape_key"),
                )
                # no per-part distinct: the caller's claim aggregate
                # (non-literals) / literal dedup collapse duplicates in
                # the same shuffle that unions the parts
            )
        return new_work

    def _process_simple_stage(
        self,
        shape: ShapeTemplate,
        focus_base: DataFrame,
        match_paths: List[Path],
        stage: List[tuple],
        matched_targets: Dict[int, DataFrame],
        gated_out_rows: Dict[int, Optional[DataFrame]],
        link_preds: Optional[set] = None,
        star0: Optional[DataFrame] = None,
        first_round: bool = False,
    ) -> None:
        """Batched gate+match for a stage of simple predicate paths:
        one join per direction over ALL work rows. Gating is a join
        against the pre-stage trie instead of a pandas evaluation;
        gated rows still contribute targets (the nodeLink fallback,
        lib/CBDShapeExtractor.ts:421-428) but not result quads.

        Elided forward paths (non-closed shape, no cbd_default_graph)
        run NO join at all: their target sets are predicate filters of
        the CBD wave-0 star checkpoint (``star0``) — the same
        (frontier x store) join the old code re-ran here."""
        trie_before = self._trie_df()
        pass_cols = [c for c in focus_base.columns if c not in _NODE_COLS]
        empty_quads = F.array().cast(f"array<{QUAD_STRUCT_DDL}>")
        for inverse in (False, True):
            items = [(i, p) for (i, p, inv) in stage if inv == inverse]
            elide = (
                not inverse and not shape.closed
                and not self.ex.cbd_default_graph
            )
            if elide and link_preds is not None:
                # witnesses and trie words of an elided forward path are
                # subsets of what CBD already recorded at the same focus
                # with the same graph filter; only nodeLink target sets
                # still matter.
                items = [(i, p) for (i, p) in items if p in link_preds]
            if not items:
                continue
            if elide and star0 is not None:
                # star0 rows ARE the forward single-hop matches over the
                # whole work set (memo-revisited rows included), already
                # graph-filtered and word-extended — zero extra joins.
                for idx, pred in items:
                    path_obj = match_paths[idx]
                    tgt_df = star0.filter(
                        F.col("predicate") == pred
                    ).select(
                        *pass_cols,
                        F.col("object_value").alias("node"),
                        F.col("object_kind").alias("node_kind"),
                        F.col("object_lang").alias("node_lang"),
                        F.col("object_datatype").alias("node_datatype"),
                        F.col("_new_pos").alias("pos"),
                    ).withColumn("path_quads", empty_quads)
                    matched_targets[id(path_obj)] = tgt_df
                    gated_out_rows[id(path_obj)] = None
                    self._simple_targets_by_pred[pred] = tgt_df
                continue
            preds = [p for _, p in items]
            f = focus_base.alias("f")
            tt = (self._obj_triples() if inverse else self.triples).alias("t")
            pred_cond = F.col("t.predicate").isin(preds)
            if not inverse:
                cond = (
                    (F.col("f.node") == F.col("t.subject"))
                    & (F.col("f.node_kind") == F.col("t.subject_kind"))
                    & pred_cond
                )
                tgt = ("t.object_value", "t.object_kind",
                       "t.object_lang", "t.object_datatype")
            else:
                cond = (
                    (F.col("f.node") == F.col("t.object_value"))
                    & (F.col("f.node_kind") == F.col("t.object_kind"))
                    & F.col("f.node_lang").eqNullSafe(F.col("t.object_lang"))
                    & F.col("f.node_datatype").eqNullSafe(F.col("t.object_datatype"))
                    & pred_cond
                )
                tgt = ("t.subject", "t.subject_kind", None, None)
            pass_cols = [c for c in focus_base.columns if c not in _NODE_COLS]
            # focus side = this round's work set — its count bounds the
            # build side (latency mode broadcasts, scale mode hashes).
            joined = self._seed(focus_base, self._round_count).alias(
                "f").join(tt, cond, "inner")
            joined = self._graph_filter(
                joined.select(
                    *[F.col(f"f.{c}").alias(c) for c in pass_cols],
                    F.col("f.pos").alias("_old_pos"),
                    F.col(tgt[0]).alias("node"),
                    F.col(tgt[1]).alias("node_kind"),
                    (F.col(tgt[2]) if tgt[2] else F.lit(None).cast("string")).alias("node_lang"),
                    (F.col(tgt[3]) if tgt[3] else F.lit(None).cast("string")).alias("node_datatype"),
                    *[F.col(f"t.{c}").alias(f"_q_{c}") for c in QUAD_COLS],
                    F.col("t.graph_is_member"),
                ).withColumn("graph", F.col("_q_graph"))
            ).drop("graph", "graph_is_member")
            sign = "-" if inverse else "+"
            joined = joined.withColumn(
                "pos", _sql_extend_word(F.col("_old_pos"), sign, F.col("_q_predicate"))
            )
            if not self.latency:
                # Scale mode: several consumers (witness slice, trie,
                # per-pred targets) must not re-run a shuffle join —
                # one materialization wins. Latency mode: the join is a
                # broadcast map-side pass over the cached store; its
                # recompute costs less than an eager barrier + write,
                # so consumers re-derive it lazily in the final action.
                joined = joined.localCheckpoint()
            quad_cols = [F.col(f"_q_{c}").alias(c) for c in QUAD_COLS]
            # Witness emission + found-gate (the non-elided directions:
            # closed shapes, inverse hops, cbd_default_graph). Inverse
            # witnesses are NOT in the star, so they emit; open shapes
            # still gate (a reduced word can witness them, e.g. arriving
            # via +p then ^p).
            if shape.closed or (first_round and inverse):
                # Closed shapes never gate. Round-1 INVERSE hops are
                # provably gate-free: every seed pos is ROOT (""), so
                # the probe word reduces to one '-'-signed segment,
                # while the pre-stage trie holds only ROOT and
                # '+'-signed CBD wave words — no hit is possible. The
                # '+p then ^p' cancellation needs a non-ROOT focus pos,
                # which only exists from round 2 on.
                witness_rows = joined
            else:
                # Duplicate-insensitive LEFT ANTI against the RAW trie
                # parts: the old distinct()+left-join shuffled and
                # aggregated the full (corpus-scaled) trie INSIDE this
                # stage's eager barrier; the anti needs no distinct and
                # runs lazily in the final action over the checkpointed
                # ``joined``.
                witness_rows = joined.join(
                    trie_before.select(
                        F.col("member_id"), F.col("word").alias("pos")
                    ),
                    ["member_id", "pos"],
                    "left_anti",
                )
            self.result_parts.append(
                witness_rows.select("member_id", *quad_cols)
            )
            quad_struct = F.struct(*quad_cols)
            targets_all = joined.withColumn(
                "path_quads", F.array(quad_struct)
            ).select(*pass_cols, *_NODE_COLS, "_q_predicate")
            self.trie_parts.append(
                joined.select("member_id", F.col("pos").alias("word")).distinct()
            )
            for idx, pred in items:
                path_obj = match_paths[idx]
                tgt_df = targets_all.filter(
                    F.col("_q_predicate") == pred
                ).drop("_q_predicate")
                matched_targets[id(path_obj)] = tgt_df
                gated_out_rows[id(path_obj)] = None

    # ----------------------------------------------------------- deref flags

    def _compute_flags(self, results: DataFrame) -> DataFrame:
        """needs_dereference flags: required paths unsatisfied on a NamedNode
        (lib/CBDShapeExtractor.ts:443-459) or an entirely empty result
        (lib/CBDShapeExtractor.ts:326-338)."""
        schema = "member_id long, node string, shape_key string, missing string"
        parts: List[DataFrame] = []
        if self.processed_parts:
            proc = self.processed_parts[0]
            for p in self.processed_parts[1:]:
                proc = proc.unionByName(p)
            proc = proc.filter(F.col("node_kind") == IRI).dropDuplicates()
            words = self._words_agg()
            # Shape keys come from the compiled graph (driver-side), not a
            # distinct-collect over the data: keeps this plan fully lazy.
            shapes_local = (
                {f"{k}:{v}": t for (k, v), t in self.shapes.shapes.items()}
                if self.shapes is not None
                else {}
            )

            @F.pandas_udf("string")
            def missing_expr(pos: pd.Series, word_lists: pd.Series,
                             shape_keys: pd.Series) -> pd.Series:
                out = []
                for p, wl, sk in zip(pos, word_lists, shape_keys):
                    shape = shapes_local.get(sk)
                    if shape is None:
                        out.append(None)
                        continue
                    ws = frozenset(wl) if wl is not None else frozenset()
                    err = shape.required_are_not_present(ws, p)
                    out.append(err.to_string() if err is not None else None)
                return pd.Series(out, dtype=object)

            flagged = (
                proc.join(words, "member_id", "left")
                .withColumn(
                    "missing",
                    missing_expr(F.col("pos"), F.col("_words"), F.col("shape_key")),
                )
                .filter(F.col("missing").isNotNull())
                .select("member_id", "node", "shape_key", "missing")
            )
            parts.append(flagged)

        # Empty-result members: flag the entity itself (NamedNode only).
        empty_members = (
            self.members_df.join(
                results.select("member_id").distinct(), "member_id", "left_anti"
            )
            .filter(F.col("entity_kind") == IRI)
            .select(
                "member_id",
                F.col("entity").alias("node"),
                F.col("shape_key"),
                F.lit("empty result").alias("missing"),
            )
        )
        parts.append(empty_members)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # Lazy on purpose: every input (results, trie, processed parts) is
        # already checkpointed, and callers that never read the flags —
        # the common bulk path — must not pay for the per-member pandas
        # validation pass.
        return out.dropDuplicates()
