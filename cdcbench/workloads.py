"""The three workloads: their inputs (made from the seed), the engine
configuration a user would pick for them, and an oracle for the final
table computed from the same inputs without ``sparkcdc.apply``.

Every workload starts from a snapshot, so every replay batch commits
delta files and each run of ``CYCLE`` batches ends in one compaction of
every bucket; a short ``TAIL`` of batches leaves deltas outstanding, so the
final read pays the merge-on-read reconcile.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkcdc.engine import EngineConfig
from sparkcdc.envelope import LANGS, REPO_KEY, cdc_events, envelope_schema
from sparkcdc.sources import pgoutput as pg

from . import content

#: batches per compaction cycle (EngineConfig.compact_max_deltas)
CYCLE = EngineConfig().compact_max_deltas
#: batches replayed after the last whole cycle
TAIL = CYCLE // 4

Key = tuple[str, str]


def repo_path_sql(k: str, n_keys: int) -> tuple[str, str]:
    """(repo, path) of key number ``k`` as the engine's generator lays them
    out: 50 repos with a quadratic ramp, one path per key."""
    repo = ("format_string('org/repo-%04d', CAST(floor(pow(CAST("
            f"{k} AS DOUBLE) / {float(n_keys)!r}D, 2.0D) * 50.0D) AS INT))")
    path = f"format_string('src/k_%06d.py', CAST({k} AS INT))"
    return repo, path


def last_write_oracle(events: DataFrame) -> DataFrame:
    """(repo, path, sha) of each key whose last event by offset is not a
    delete. ``events`` has repo, path, op, offset, content."""
    last = events.groupBy("repo", "path").agg(
        F.max_by(F.struct("op", "content"), "offset").alias("w"))
    return last.filter(F.col("w.op") != "d").select(
        "repo", "path", F.sha2(F.col("w.content"), 256).alias("sha"))


def envelope_fields(env: DataFrame) -> DataFrame:
    is_del = F.col("op") == "d"
    return env.select(
        F.when(is_del, F.col("before.repo")).otherwise(F.col("after.repo"))
        .alias("repo"),
        F.when(is_del, F.col("before.path")).otherwise(F.col("after.path"))
        .alias("path"),
        "op", "offset", F.col("after.content").alias("content"),
    )


def snapshot_fields(snap: DataFrame) -> DataFrame:
    return snap.select("repo", "path", F.lit("r").alias("op"),
                       F.lit(-1).cast("long").alias("offset"), "content")


class Workload:
    name = ""
    #: the reduce shape ``auto`` must pick for this workload's input
    strategy = ""
    n_keys = 0
    batch = 0
    schema_changes: list[tuple[int, list[dict]]] = []

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.landed_to = 0

    def config(self) -> EngineConfig:
        raise NotImplementedError

    def snapshot_source(self) -> DataFrame:
        raise NotImplementedError

    #: caller-supplied slice reader; None = the engine's own generator
    envelopes_for = None

    def prepare(self) -> None:
        """Land the snapshot source."""

    def land(self, lo: int, hi: int) -> None:
        """Make events [lo, hi) readable by ``envelopes_for``."""

    def ensure_landed(self, hi: int) -> None:
        if hi > self.landed_to:
            self.land(self.landed_to, hi)
            self.landed_to = hi

    def oracle(self, hi: int) -> DataFrame | dict[Key, str]:
        raise NotImplementedError


class ReplaySeekable(Workload):
    """North-star table from the closed-form generator: ``auto`` picks the
    two-phase ``refetch`` reduce because the source can re-read offsets."""

    name = "replay_seekable"
    strategy = "refetch"
    n_keys = 100_000
    batch = 50_000

    def config(self) -> EngineConfig:
        return EngineConfig(batch_size=self.batch, n_keys=self.n_keys,
                            seed=self.seed, content_chars=64)

    def snapshot_source(self) -> DataFrame:
        repo, path = repo_path_sql("id", self.n_keys)
        langs = ", ".join(f"'{x}'" for x in LANGS)
        return self.spark.range(self.n_keys).selectExpr(
            f"{repo} AS repo", f"{path} AS path",
            f"substring(sha2(concat_ws('|', 'snap', {self.seed}, id), 256),"
            " 1, 40) AS commit",
            f"element_at(array({langs}), CAST(pmod(id, {len(LANGS)}) + 1"
            " AS INT)) AS lang",
            "rpad(concat_ws(':', 'snap', id, sha2(concat_ws('|', 'body', "
            f"{self.seed}, id), 256)), 64, 'x') AS content",
        )

    def oracle(self, hi: int) -> DataFrame:
        env = cdc_events(self.spark, hi, n_keys=self.n_keys, seed=self.seed,
                         content_chars=64)
        return last_write_oracle(
            snapshot_fields(self.snapshot_source())
            .unionByName(envelope_fields(env)))


#: schema epochs of the landed wide table: epoch 1 adds ``license``,
#: epoch 2 renames ``lang`` to ``language``
WIDE_EPOCHS = [
    ["repo", "path", "commit", "lang", "content"],
    ["repo", "path", "commit", "lang", "content", "license"],
    ["repo", "path", "commit", "language", "content", "license"],
]


class ReplayLandedWide(Workload):
    """Envelopes landed as parquet with KB-sized code bodies. The source is
    external and its row width undeclared, so ``auto`` picks
    ``narrow_cached``. A column add and a rename land mid-stream."""

    name = "replay_landed_wide"
    strategy = "narrow_cached"
    n_keys = 10_000
    batch = 3_000
    min_lines, max_lines = 16, 80

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        # at batch boundaries: a change inside a batch splits it, and the
        # extra delta commit would put compaction off the cycle grid
        self.schema_changes = [
            (self.batch, [{"action": "add", "name": "license",
                           "type": "string"}]),
            (2 * self.batch, [{"action": "rename", "from": "lang",
                               "to": "language"}]),
        ]
        self.bounds = [0] + [off for off, _ in self.schema_changes]
        #: (lo, hi, epoch, dir) of each landed piece
        self.pieces: list[tuple[int, int, int, str]] = []
        self._snapshot_dir = os.path.join(work, "landed", "snapshot")

    def config(self) -> EngineConfig:
        return EngineConfig(batch_size=self.batch)

    def epoch_of(self, offset: int) -> int:
        return sum(1 for b in self.bounds[1:] if offset >= b)

    def _rows_sql(self, id_expr: str, tag: int) -> dict[str, str]:
        repo, path = repo_path_sql(id_expr, self.n_keys)
        langs = ", ".join(f"'{x}'" for x in LANGS)
        lang = (f"element_at(array({langs}), CAST(pmod({id_expr}, "
                f"{len(LANGS)}) + 1 AS INT))")
        return {
            "repo": repo, "path": path,
            "commit": f"substring(sha2(concat_ws('|', {tag}, id), 256), 1, 40)",
            "lang": lang, "language": lang,
            "license": f"element_at(array('MIT', 'Apache-2.0', 'BSD-3'), "
                       f"CAST(pmod({id_expr}, 3) + 1 AS INT))",
            "content": content.sql_body("id", self.seed + tag,
                                        self.min_lines, self.max_lines),
        }

    def prepare(self) -> None:
        cols = self._rows_sql("id", 0)
        (self.spark.range(self.n_keys)
         .selectExpr(*[f"{cols[c]} AS {c}" for c in WIDE_EPOCHS[0]])
         .write.mode("overwrite").parquet(self._snapshot_dir))

    def snapshot_source(self) -> DataFrame:
        return self.spark.read.parquet(self._snapshot_dir)

    def land(self, lo: int, hi: int) -> None:
        edges = sorted({lo, hi, *[b for b in self.bounds if lo < b < hi]})
        for a, b in zip(edges, edges[1:]):
            ep = self.epoch_of(a)
            d = os.path.join(self.work, "landed", f"events-{a}-{b}")
            key = f"pmod(xxhash64({self.seed}, id), {self.n_keys})"
            row = self._rows_sql(key, 1)
            op_rnd = f"pmod(xxhash64({self.seed + 3}, id), 100)"
            op = (f"CASE WHEN {op_rnd} < 5 THEN 'd' WHEN {op_rnd} < 35 "
                  "THEN 'c' ELSE 'u' END")
            after = ", ".join(f"'{c}', {row[c]}" for c in WIDE_EPOCHS[ep])
            before = ", ".join(
                f"'{c}', {row[c] if c in REPO_KEY else 'CAST(NULL AS STRING)'}"
                for c in WIDE_EPOCHS[ep])
            env = self.spark.range(a, b).selectExpr(
                f"{op} AS op", "1700000000000 + id AS ts_ms",
                f"CASE WHEN {op} IN ('u', 'd') THEN named_struct({before}) "
                "END AS before",
                f"CASE WHEN {op} != 'd' THEN named_struct({after}) END AS after",
                "named_struct('name', 'landing', 'db', 'code', 'table', "
                "'source_code_repos', 'snapshot', 'false', 'file', "
                "CAST(NULL AS STRING), 'pos', id, 'row', 0, 'gtid', "
                "CAST(NULL AS STRING), 'ts_ms', 1700000000000 + id) AS source",
                "CAST(NULL AS STRUCT<id: STRING, total_order: BIGINT, "
                "data_collection_order: BIGINT>) AS transaction",
                f"CAST(pmod({key}, 8) AS INT) AS part_id", "id AS offset",
                "false AS tombstone",
                f"CAST(floor(id / {self.batch}) AS INT) AS slot",
            )
            schema = envelope_schema(
                [(c, T.StringType()) for c in WIDE_EPOCHS[ep]])
            (env.select(*[F.col(f.name).cast(f.dataType) for f in schema],
                        "slot")
             .write.mode("overwrite").partitionBy("slot").parquet(d))
            self.pieces.append((a, b, ep, d))

    def envelopes_for(self, lo: int, hi: int) -> DataFrame:
        paths = []
        for a, b, _, d in self.pieces:
            if a < hi and lo < b:
                first, last = max(a, lo) // self.batch, (min(b, hi) - 1) // self.batch
                paths += [os.path.join(d, f"slot={s}")
                          for s in range(first, last + 1)]
        env = self.spark.read.parquet(*paths)
        return env.filter((F.col("offset") >= lo) & (F.col("offset") < hi))

    def oracle(self, hi: int) -> DataFrame:
        events = snapshot_fields(self.snapshot_source())
        for a, b, _, d in self.pieces:
            if a < hi:
                events = events.unionByName(envelope_fields(
                    self.spark.read.parquet(d).filter(F.col("offset") < hi)))
        return last_write_oracle(events)


#: pgoutput relation of the north-star table: (name, type oid, is key)
PG_COLUMNS = [("repo", 25, True), ("path", 25, True), ("commit", 25, False),
              ("lang", 25, False), ("content", 25, False)]
#: LSN of global offset 0
LSN_BASE = 1 << 32


class WirePgoutputTrickle(Workload):
    """pgoutput slot frames for rows of at most 512 B, one landed file per
    small micro-batch. The row width is declared, so ``auto`` picks
    ``fat``; decode and per-batch fixed costs dominate."""

    name = "wire_pgoutput_trickle"
    strategy = "fat"
    n_keys = 5_000
    batch = 1_000

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.dir = os.path.join(work, "landed", "frames")
        os.makedirs(self.dir, exist_ok=True)
        self.snapshot_rows: dict[Key, str] = {}
        #: (key, op, content) of each landed event, by global offset
        self.events: list[tuple[Key, str, str]] = []
        self._snapshot_file = os.path.join(work, "landed", "snapshot.parquet")
        self.rel = pg.encode_relation(1, "public", "source_code_repos",
                                      PG_COLUMNS)

    def config(self) -> EngineConfig:
        return EngineConfig(batch_size=self.batch, estimated_row_bytes=512)

    def key(self, k: int) -> Key:
        return (f"org/repo-{int((k / self.n_keys) ** 2 * 50):04d}",
                f"src/k_{k:06d}.py")

    def row(self, rng: random.Random, k: int) -> list[str]:
        repo, path = self.key(k)
        body = content.py_body(rng, rng.randint(3, 9))[:400]
        return [repo, path, f"{rng.getrandbits(160):040x}",
                LANGS[k % len(LANGS)], body]

    def prepare(self) -> None:
        rng = random.Random(f"{self.seed}:snapshot")
        rows = [self.row(rng, k) for k in range(self.n_keys)]
        self.snapshot_rows = {(r[0], r[1]): r[4] for r in rows}
        names = [c for c, _, _ in PG_COLUMNS]
        pq.write_table(pa.table({n: [r[i] for r in rows]
                                 for i, n in enumerate(names)}),
                       self._snapshot_file)

    def snapshot_source(self) -> DataFrame:
        return self.spark.read.parquet(self._snapshot_file)

    def land(self, lo: int, hi: int) -> None:
        for j in range(lo // self.batch, hi // self.batch):
            self._land_batch(j)

    def _land_batch(self, j: int) -> None:
        rng = random.Random(f"{self.seed}:batch:{j}")
        lsns, xids, data = [], [], []

        def add(lsn: int, xid: int, frame: bytes) -> None:
            lsns.append(f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}")
            xids.append(xid)
            data.append(frame)

        off = j * self.batch
        end = off + self.batch
        add(LSN_BASE + off, 0, self.rel)  # Relation, re-sent per connection
        while off < end:
            n = min(rng.randint(1, 4), end - off)
            xid = off + 1
            ts_us = 1_700_000_000_000_000 + off * 1000
            add(LSN_BASE + off, xid, pg.encode_begin(LSN_BASE + off + n - 1,
                                                     ts_us, xid))
            for _ in range(n):
                k = rng.randrange(self.n_keys)
                x = rng.random()
                repo, path = self.key(k)
                if x < 0.05:
                    frame = pg.encode_delete(1, [repo, path, None, None, None])
                    self.events.append(((repo, path), "d", ""))
                else:
                    vals = self.row(rng, k)
                    frame = (pg.encode_insert(1, vals) if x < 0.35 else
                             pg.encode_update(1, vals))
                    self.events.append(((repo, path), "u", vals[4]))
                add(LSN_BASE + off, xid, frame)
                off += 1
            add(LSN_BASE + off - 1, xid,
                pg.encode_commit(LSN_BASE + off - 1, LSN_BASE + off, ts_us))
        pq.write_table(
            pa.table({"lsn": lsns, "xid": pa.array(xids, pa.int64()),
                      "data": pa.array(data, pa.binary())}),
            os.path.join(self.dir, f"b{j:06d}.parquet"))

    def envelopes_for(self, lo: int, hi: int) -> DataFrame:
        if lo % self.batch or hi % self.batch:
            raise ValueError(f"slice [{lo}, {hi}) is not batch-aligned")
        frames = self.spark.read.parquet(*[
            os.path.join(self.dir, f"b{j:06d}.parquet")
            for j in range(lo // self.batch, hi // self.batch)])
        return pg.pgoutput_to_envelopes(
            frames, [(c, T.StringType()) for c, _, _ in PG_COLUMNS], REPO_KEY,
            table="source_code_repos")

    def oracle(self, hi: int) -> dict[Key, str]:
        last = {k: ("r", c) for k, c in self.snapshot_rows.items()}
        for k, op, c in self.events[:hi]:
            last[k] = (op, c)
        return {k: hashlib.sha256(c.encode("utf-8")).hexdigest()
                for k, (op, c) in last.items() if op != "d"}


WORKLOADS = {w.name: w for w in (ReplaySeekable, ReplayLandedWide,
                                 WirePgoutputTrickle)}
