"""Incremental paragraph-level exact dedup: a durable claimed-digest index.

The batch op (``dedup.paragraph_dedup``) recomputes winners over the whole
corpus per run. A standing ingest pipeline only ever APPENDS documents with
higher ids, and the keep-first-(doc_id, pos) policy makes the problem
monotone: a paragraph's first occurrence lives in the EARLIEST batch that
contains it, so the outputs of already-ingested documents NEVER change.
The incremental state is therefore just the set of claimed paragraph
digests (16 bytes each) plus the emitted output rows:

* ``update(corpus)`` dedups ONLY the rows above the id watermark — batch
  keep-first within the delta, minus digests already claimed by earlier
  ingests (an anti-join against the stored 16-byte set; never text) —
  writes the new docs' reassembled rows as an output part, appends the
  newly claimed digests, and advances the watermark.
* ``output()`` is the union of the emitted parts: the pipeline's product,
  immutable per part.

Invariant (test/oracle contract): after any ascending sequence of
``update()`` calls covering corpus C, ``output()`` equals the single-shot
``paragraph_dedup(C)`` with the same parameters.

Durability/concurrency: parquet parts + atomic ``meta.json`` swap, SINGLE
writer fenced by a commit token (same contract as
:class:`~.incremental_dedup.MinHashIndex`).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _span_trimmed
from .incremental_dedup import ConcurrentIndexWriter
from .spread import exec_session, is_small_input, on_session


class _ClaimedDigestIndex:
    """Shared durable-index plumbing for claimed-digest dedup frontiers
    (paragraph and substring grain): parquet parts + atomic ``meta.json``
    swap, single-writer commit-token fence, id watermark. Subclasses
    define ``_params()`` and the ingest program."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._meta: Optional[dict] = None
        mp = os.path.join(path, "meta.json")
        if os.path.exists(mp):
            with open(mp) as f:
                self._meta = json.load(f)
            params = self._meta.get("params", {})
            mine = self._params()
            if params != mine:
                raise ValueError(
                    f"index at {path} was built with {params}, not {mine}"
                )
        self._token: Optional[str] = (self._meta or {}).get("token")

    def _params(self) -> dict:  # pragma: no cover - abstract
        raise NotImplementedError

    def _fence(self) -> None:
        mp = os.path.join(self.path, "meta.json")
        if not os.path.exists(mp):
            return
        try:
            with open(mp) as f:
                disk_token = json.load(f).get("token")
        except (json.JSONDecodeError, OSError):
            return
        if disk_token != self._token:
            raise ConcurrentIndexWriter(
                f"index at {self.path}: meta was committed by another "
                "writer since this instance loaded it; reload() and "
                "re-run the ingest"
            )

    def reload(self) -> None:
        self._meta = None
        mp = os.path.join(self.path, "meta.json")
        if os.path.exists(mp):
            with open(mp) as f:
                self._meta = json.load(f)
        self._token = (self._meta or {}).get("token")

    def _swap_meta(self, meta: dict) -> None:
        self._fence()
        meta["params"] = self._params()
        meta["token"] = uuid.uuid4().hex
        meta["written_at"] = time.time()
        tmp = os.path.join(self.path, f".meta-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.path, "meta.json"))
        self._meta = meta
        self._token = meta["token"]

    @property
    def watermark_id(self) -> Optional[int]:
        return (self._meta or {}).get("watermark_id")

    def _parts(self, kind: str) -> List[str]:
        if not self._meta:
            return []
        return [os.path.join(self.path, p) for p in self._meta.get(kind, [])]

    def _read(
        self, spark: SparkSession, kind: str, schema: str
    ) -> Optional[DataFrame]:
        parts = self._parts(kind)
        if not parts:
            return None
        rd = spark.read.schema(schema)
        out = rd.parquet(parts[0])
        for p in parts[1:]:
            out = out.unionByName(rd.parquet(p))
        return out

    #: schema of one stored claimed digest (subclasses override)
    _SEEN_SCHEMA = "h binary"

    #: past this many claimed-digest parts, an ingest folds them into ONE
    #: part (read fan-in stays bounded: a standing pipeline doing one
    #: ingest per wave would otherwise anti-join against an ever-growing
    #: union of tiny files — the ContaminationIndex COMPACT_AT precedent).
    #: Output parts are NOT compacted: they are the immutable product.
    COMPACT_AT = 16

    def _maybe_compact_seen(self, spark: SparkSession, meta: dict) -> list:
        """Fold the claimed-digest parts into one when past the cap.
        Mutates ``meta`` in place (the caller swaps it atomically) and
        returns the superseded part names — the caller removes their
        directories only AFTER the swap committed (a crash in between
        leaves orphan-but-unreferenced dirs, never a dangling meta)."""
        if len(meta.get("seen_parts", [])) <= self.COMPACT_AT:
            return []
        # fold from the LOCAL meta being committed — self._meta is still
        # the previous swap's view and would drop the current ingest's
        # just-written claims (caught by the many-waves invariant test)
        rd = spark.read.schema(self._SEEN_SCHEMA)
        parts = [
            os.path.join(self.path, p) for p in meta.get("seen_parts", [])
        ]
        folded = rd.parquet(parts[0])
        for p in parts[1:]:
            folded = folded.unionByName(rd.parquet(p))
        folded = folded.distinct()
        cname = f"seen-{uuid.uuid4().hex[:12]}"
        folded.write.parquet(os.path.join(self.path, cname))
        dead = meta.get("seen_parts", [])
        meta["seen_parts"] = [cname]
        return dead

    def _drop_parts(self, dead: list) -> None:
        import shutil

        for p in dead:
            shutil.rmtree(os.path.join(self.path, p), ignore_errors=True)

    def _out_schema(self) -> str:  # pragma: no cover - abstract
        raise NotImplementedError

    def claimed(self, spark: SparkSession) -> Optional[DataFrame]:
        """The stored claimed-digest set."""
        return self._read(spark, "seen_parts", self._SEEN_SCHEMA)

    def output(self, spark: SparkSession) -> DataFrame:
        """The deduped corpus emitted so far (union of immutable parts)."""
        got = self._read(spark, "out_parts", self._out_schema())
        if got is None:
            return spark.createDataFrame([], self._out_schema())
        return got


class ParagraphDedupIndex(_ClaimedDigestIndex):
    """Durable incremental paragraph-dedup index at ``path``."""

    _SEEN_SCHEMA = "h binary"  # 16-byte md5 per paragraph

    def __init__(
        self,
        path: str,
        sep: str = "\n",
        min_chars: int = 0,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        self.sep = sep
        self.min_chars = min_chars
        self.text_col = text_col
        self.id_col = id_col
        super().__init__(path)

    def _params(self) -> dict:
        return {"sep": self.sep, "min_chars": self.min_chars}

    def _out_schema(self) -> str:
        return (
            f"{self.id_col} long, {self.text_col} string, "
            "n_paras long, n_kept long"
        )

    def update(self, corpus: DataFrame) -> DataFrame:
        """Ingest every corpus row with ``id > watermark``: dedup the
        delta against the claimed set + itself (keep-first), emit the new
        docs' reassembled rows, claim their winning digests, advance the
        watermark. Returns the NEW docs' output rows."""
        import re as _re

        from pyspark.sql import Observation
        from pyspark.storagelevel import StorageLevel

        spark = corpus.sparkSession
        self._fence()
        meta = dict(self._meta or {})
        wm = meta.get("watermark_id")
        fresh = (
            corpus
            if wm is None
            else corpus.filter(F.col(self.id_col) > F.lit(wm))
        )

        # small-delta gate: AQE off over the commits — see
        # SubstringDedupIndex.update (r18: on the clone session, so the
        # flip can't leak into concurrent queries on the caller's session)
        small = is_small_input(fresh)
        run = spark
        if small:
            try:
                clone = exec_session(spark)
                if clone is not None:
                    fresh = on_session(fresh, clone)
                    run = clone
            except Exception:
                run = spark
        pat = _re.escape(self.sep)
        did = F.col(self.id_col)
        arr = F.split(F.col(self.text_col), pat)
        paras = fresh.select(
            did, F.posexplode(arr).alias("pos", "para")
        )
        eligible = (
            paras
            if self.min_chars <= 0
            else paras.filter(F.length("para") >= self.min_chars)
        )
        # batch winner rule within the delta, with the claimed set riding
        # the SAME exchange as sentinel rows that always win (__src=0
        # sorts below every delta row) — ascending ids ⇒ the stored claim
        # is the global first occurrence; no anti-join, one fewer
        # shuffle-map job (r17, the SubstringDedupIndex shape)
        delta = eligible.select(
            F.lit(1).alias("__src"),
            F.unhex(F.md5("para")).alias("h"),
            F.struct(self.id_col, "pos").alias("w"),
        )
        seen = self.claimed(run)
        if seen is not None:
            delta = delta.unionByName(
                seen.select(
                    F.lit(0).alias("__src"),
                    "h",
                    F.struct(
                        F.lit(-1).cast("long").alias(self.id_col),
                        F.lit(-1).alias("pos"),
                    ).alias("w"),
                )
            )
        folded = delta.groupBy("h").agg(
            F.min(F.struct("__src", "w")).alias("m")
        )
        winners = (
            folded.filter(F.col("m.__src") == 1)
            .select("h", F.col("m.w").alias("w"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        oname = f"out-{uuid.uuid4().hex[:12]}"
        sname = f"seen-{uuid.uuid4().hex[:12]}"
        # small-delta ingests commit with AQE off (clone session) and one
        # claims file per part (see SubstringDedupIndex.update /
        # spread.py): stage-job scheduling and tiny-file fan-in dominate a
        # small delta's ingest cost; big deltas keep AQE + natural
        # partitioning
        try:
            # claims FIRST: materializes the persisted winner fold
            # that the output write then reuses
            cl = winners.select("h")
            (cl.coalesce(1) if small else cl).write.parquet(
                os.path.join(self.path, sname)
            )
            keep_pos = winners.groupBy(
                F.col(f"w.{self.id_col}").alias(self.id_col)
            ).agg(F.collect_set(F.col("w.pos")).alias("__keep_pos"))
            kp = F.coalesce(
                F.col("__keep_pos"), F.array().cast("array<int>")
            )
            if self.min_chars > 0:
                kept_arr = F.filter(
                    arr,
                    lambda x, i: F.array_contains(kp, i)
                    | (F.length(x) < F.lit(self.min_chars)),
                )
            else:
                kept_arr = F.filter(
                    arr, lambda x, i: F.array_contains(kp, i)
                )
            obs = Observation()
            # two-step select (r17 hardening) — see paragraph_dedup
            out_rows = (
                fresh.join(keep_pos, [self.id_col], "left")
                .select(
                    did,
                    kept_arr.alias("__kept"),
                    F.size(arr).cast("long").alias("n_paras"),
                )
                .select(
                    self.id_col,
                    F.array_join("__kept", self.sep).alias(
                        self.text_col
                    ),
                    "n_paras",
                    F.size("__kept").cast("long").alias("n_kept"),
                )
                # the new watermark rides the write — no extra job
                .observe(obs, F.max(F.col(self.id_col)).alias("hi"))
            )
            out_rows.write.parquet(os.path.join(self.path, oname))
            hi = obs.get["hi"]
        finally:
            winners.unpersist()
        if hi is None:
            # empty delta: drop the two just-written empty parts instead
            # of growing the part lists; watermark unchanged
            self._drop_parts([oname, sname])
            return self.output(spark).limit(0)
        meta["out_parts"] = meta.get("out_parts", []) + [oname]
        meta["seen_parts"] = meta.get("seen_parts", []) + [sname]
        meta["watermark_id"] = int(hi)
        dead = self._maybe_compact_seen(spark, meta)
        self._swap_meta(meta)
        self._drop_parts(dead)
        return spark.read.schema(self._out_schema()).parquet(
            os.path.join(self.path, oname)
        )

class SubstringDedupIndex(_ClaimedDigestIndex):
    """Durable incremental SUBSTRING-grain dedup index (the sliding
    ``window``-token grain of :func:`~.dedup.substring_dedup`).

    Same monotonicity argument as the paragraph grain: keep-first
    ``(id, pos)`` means a window's global first occurrence lives in the
    EARLIEST ascending-id ingest that contains it, so already-emitted
    documents never change. The frontier state is the claimed set of
    8-byte window hashes; a delta occurrence loses iff its hash is
    already claimed OR it is not the delta's own within-batch winner.

    Invariant (pinned by test): after any ascending sequence of
    ``update()`` calls covering corpus C, ``output()`` ==
    ``substring_dedup(C, window=w)``.
    """

    _SEEN_SCHEMA = "h long"  # 8-byte xxhash64 per window span

    def __init__(
        self,
        path: str,
        window: int = 50,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        self.window = int(window)
        self.text_col = text_col
        self.id_col = id_col
        super().__init__(path)

    def _params(self) -> dict:
        # hkey: the claim-hash function version — changing it would mix
        # hash spaces with stored claims, so old indexes refuse loudly
        return {"window": self.window, "hkey": "arr1"}

    def _out_schema(self) -> str:
        return (
            f"{self.id_col} long, {self.text_col} string, "
            "n_tokens long, n_kept long"
        )

    def update(self, corpus: DataFrame) -> DataFrame:
        """Ingest every corpus row with ``id > watermark``: trim the
        delta's losing spans (vs the claimed set + within-delta
        keep-first), emit the new docs' reassembled rows, claim the
        delta's fresh window hashes, advance the watermark. Returns the
        NEW docs' output rows.

        Job-count shape (r17-OPT): the tagged occurrence set is
        persisted once and BOTH commits read it — the OUTPUT write goes
        first (it materializes the window pass AND feeds the trim, so
        the delta is tokenized exactly once), the claims write then
        reads nothing but the cache — and the new watermark rides an
        ``observe()`` on the output write instead of a separate max()
        job. Small deltas commit on the AQE-off clone with single-file
        claims parts and a shuffled span-fold join. Steady-state ingest
        is 5 Spark jobs (r16: 13, r17 build: 8); the bench gate pins
        jobs <= 6 AND strictly fewer than the batch recompute. The
        persisted set is O(delta occurrences) x 40-byte rows, spills to
        disk, and is unpersisted before return.
        """
        from pyspark.sql import Observation
        from pyspark.sql import Window as _W
        from pyspark.storagelevel import StorageLevel

        spark = corpus.sparkSession
        self._fence()
        meta = dict(self._meta or {})
        wm = meta.get("watermark_id")
        fresh = (
            corpus
            if wm is None
            else corpus.filter(F.col(self.id_col) > F.lit(wm))
        )

        Wn = self.window
        # small-delta gate decided ONCE: the two commits below run with
        # AQE off — stage-job scheduling dominates a small ingest
        # (measured: spreading the delta itself does NOT pay here; the
        # compute is sub-0.1s, the overhead is jobs)
        small = is_small_input(fresh)
        # r18: small commits run on the per-parent AQE-off CLONE session
        # (spread.exec_session) instead of flipping the parent's runtime
        # conf — the flip leaked AQE-off into any unrelated query planned
        # concurrently on the shared session (r17 advice). The delta's
        # plan is rebound onto the clone (driver-side transfer, no data
        # moves); the returned output frame stays on the CALLER's session.
        run = spark
        if small:
            try:
                clone = exec_session(spark)
                if clone is not None:
                    fresh = on_session(fresh, clone)
                    run = clone
            except Exception:
                run = spark  # commits run on the caller's session, AQE on
        # tokenize ONCE into a materialized `__tk` column (see
        # substring_dedup: inlining the split into the transform lambda
        # re-splits the whole text per window position)
        toks = F.filter(
            F.split(F.col(self.text_col), r"\s+"),
            lambda t: F.length(t) > 0,
        )
        # `fbase` is read by the output commit only (the claims commit
        # reads the cached window pass) — see the OUTPUT-first note below
        fbase = fresh.select(F.col(self.id_col), toks.alias("__tk"))
        tk = F.col("__tk")
        nt = F.size(tk)
        starts = F.when(
            nt >= Wn, F.sequence(F.lit(0), nt - F.lit(Wn))
        ).otherwise(F.array().cast("array<int>"))
        # token-slice array hash — MUST stay bit-identical to the
        # batch operator's key (claims live across ingests); the
        # params "hkey" pin refuses indexes built on the old key.
        # Hash-array-then-posexplode: occurrence rows carry (id,pos,h)
        # only, never the token array (see substring_dedup's scale note)
        win_h = F.transform(
            starts, lambda p: F.xxhash64(F.slice(tk, p + 1, Wn))
        )
        occ = fbase.select(
            F.lit(1).alias("__src"),
            F.col(self.id_col),
            F.posexplode(win_h).alias("pos", "h"),
        )
        # the claimed set rides the SAME exchange as the delta: each
        # stored hash becomes a sentinel pseudo-occurrence (__src=0)
        # that sorts BELOW every delta occurrence, so one window-min
        # decides probe (claimed iff winner.__src=0) AND within-delta
        # keep-first — no probe join, one fewer shuffle-map job
        seen = self.claimed(run)
        if seen is not None:
            occ = occ.unionByName(
                seen.select(
                    F.lit(0).alias("__src"),
                    F.lit(-1).cast("long").alias(self.id_col),
                    F.lit(-1).alias("pos"),
                    "h",
                )
            )
        wmin = F.min(F.struct("__src", self.id_col, "pos")).over(
            _W.partitionBy("h")
        )
        tagged = (
            occ.withColumn("__w", wmin)
            .filter(F.col("__src") == 1)  # sentinels served, drop them
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        oname = f"out-{uuid.uuid4().hex[:12]}"
        sname = f"seen-{uuid.uuid4().hex[:12]}"
        # small-delta ingests commit with AQE OFF (on the clone session;
        # the caller's session if cloning failed): every exchange otherwise
        # materializes as its own stage-job — measured ~0.15s scheduling
        # each for a few hundred new docs. Big deltas (many scan
        # partitions) keep AQE.
        try:
            # OUTPUT first (r17 opt): this action computes the
            # tokenized delta exactly ONCE — it both materializes the
            # persisted window pass (through `occ`) and feeds the
            # trim's token arrays. The pre-r17 claims-first order paid
            # the delta's tokenize + window-hash scan in BOTH commits
            # (the output action re-derived `fbase` from the raw text
            # because only post-window `tagged` is cached): measured
            # ~0.3-0.5s of duplicated scan-side work per sf0.1 ingest.
            # The claims commit below then reads only the cache.
            losers = tagged.filter(
                (F.col("__w.__src") == 0)
                | (F.col(self.id_col) != F.col(f"__w.{self.id_col}"))
                | (F.col("pos") != F.col("__w.pos"))
            )
            rm = losers.groupBy(self.id_col).agg(
                F.collect_set("pos").alias("__rm")
            )
            kept_arr = _span_trimmed(
                "__tk",
                "size(__tk)",
                "coalesce(__rm, cast(array() AS array<int>))",
                Wn,
            )
            # two-step select — see substring_dedup: prevents
            # lateral-alias capture of text_col inside the trim's HOF
            # lambdas, and computes the kept array once
            obs = Observation()
            # small scope: hint the span fold to a SHUFFLED hash join
            # — a broadcast build materializes as its OWN Spark job
            # (the dominant remaining ingest overhead); the shuffled
            # join runs inside the write job. Big deltas keep the
            # planner's (broadcast) choice.
            rm_side = rm.hint("shuffle_hash") if small else rm
            out_rows = (
                fbase.join(rm_side, [self.id_col], "left")
                .select(
                    F.col(self.id_col),
                    kept_arr.alias("__kept"),
                    nt.cast("long").alias("n_tokens"),
                )
                .select(
                    self.id_col,
                    F.array_join("__kept", " ").alias(self.text_col),
                    "n_tokens",
                    F.size("__kept").cast("long").alias("n_kept"),
                )
                # the new watermark rides the write — no separate job
                .observe(obs, F.max(F.col(self.id_col)).alias("hi"))
            )
            out_rows.write.parquet(os.path.join(self.path, oname))
            hi = obs.get["hi"]

            # claims SECOND, from the cache alone. A fresh-won hash's
            # WINNER ROW is unique per h by construction (min over the
            # h-partition), so selecting the winner occurrence itself
            # replaces the old `.distinct()` — same claimed set, one
            # fewer exchange per ingest (r17 opt).
            claims = tagged.filter(
                (F.col("__w.__src") == 1)
                & (F.col(self.id_col) == F.col(f"__w.{self.id_col}"))
                & (F.col("pos") == F.col("__w.pos"))
            ).select("h")
            if small:
                # a small delta's claims are a few MB: one file per
                # part instead of shuffle.partitions tiny ones — every
                # LATER ingest unions all claim parts into its window
                # exchange, so part file count is a standing read tax
                # (guide §6 small-files). Narrow coalesce, no shuffle.
                claims = claims.coalesce(1)
            claims.write.parquet(os.path.join(self.path, sname))
        finally:
            tagged.unpersist()
        if hi is None:
            # empty delta: nothing new was ingested — the two parts just
            # written are empty; drop them instead of growing the part
            # lists on every no-op wave, and leave the watermark alone
            self._drop_parts([oname, sname])
            return self.output(spark).limit(0)
        meta["out_parts"] = meta.get("out_parts", []) + [oname]
        meta["seen_parts"] = meta.get("seen_parts", []) + [sname]
        meta["watermark_id"] = int(hi)
        dead = self._maybe_compact_seen(spark, meta)
        self._swap_meta(meta)
        self._drop_parts(dead)
        return spark.read.schema(self._out_schema()).parquet(
            os.path.join(self.path, oname)
        )
