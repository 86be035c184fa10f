"""Workload `ingest_maintain`: the append path with reads and maintenance
beside it. Per batch: `ingest_dataframe` appends it, the HLL and
Misra-Gries keepers fold it (one epoch each), and two KQL reads run over
`read_table(...)`; every other epoch is then replayed. Each round is one
batch followed by `compact_table` and a retention drop that keeps the table
at a steady size.

The expected content of the table is modelled in pandas from the generated
batches, so every read, every compaction and the keeper states are checked
against exact answers.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import gen
from common import FAILED, Workload, mean, p50
from meerkat_spark.ingest import batch, compact
from meerkat_spark.streaming import ingest as keepers
from spans import count, within

REPLAY_EVERY = 2  # epochs 0, 2, 4, ... are replayed once
HH_CAPACITY = 256
HLL_TOLERANCE = 0.05  # lg_k=12: relative standard error ~1.6%


def _parquet_size(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under `path`."""
    files = total = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(root, n))
    return files, total


class _Stream:
    """One append stream: a table, its keeper state, its seeded batch
    generator, and a pandas model of what the table must contain."""

    def __init__(self, root: str, rng):
        self.root = root
        self.cfg = batch.IngestConfig(path=os.path.join(root, "table"))
        self.hll_path = os.path.join(root, "hll")
        self.hh_path = os.path.join(root, "hh")
        self.rng = rng
        self.batch_no = 0
        self.next_id = 0
        self.prev = None
        self.model = pd.DataFrame()  # expected table content, row for row
        self.seen_users: dict[str, set] = {}  # every row since birth, for HLL
        self.user_counts = pd.Series(dtype=np.int64)  # the same, for Misra-Gries

    def next_batch(self) -> tuple[str, int]:
        """Generate the next batch into a parquet file; returns its path
        and the number of planted duplicates in it."""
        cols, n_new = gen.event_batch(self.rng, self.batch_no, self.next_id, self.prev)
        path = os.path.join(self.root, "batches", f"b{self.batch_no}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        gen.write_parquet(path, cols)
        self.prev = cols
        self.next_id += n_new
        pdf = pd.DataFrame(cols)
        pdf["day"] = pdf["_ts"].dt.floor("D")
        self.model = pd.concat([self.model, pdf], ignore_index=True)
        for et, users in pdf.groupby("event_type")["user_id"]:
            self.seen_users.setdefault(et, set()).update(users.tolist())
        self.user_counts = self.user_counts.add(
            pdf["user_id"].value_counts(), fill_value=0
        ).astype(np.int64)
        return path, len(pdf) - n_new


class IngestMaintain(Workload):
    name = "ingest_maintain"
    REQUEST = "read"
    WRAPPED = (
        ("meerkat_spark.ingest.batch", "ingest_dataframe", "ingest.append"),
        ("meerkat_spark.ingest.batch", "read_table", "ingest.read_table"),
        ("meerkat_spark.ingest.compact", "compact_table", "ingest.compact"),
        ("meerkat_spark.streaming.ingest", "hll_distinct_step", "streaming.hll_step"),
        ("meerkat_spark.streaming.ingest", "heavy_hitters_step", "streaming.hh_step"),
        ("meerkat_spark.kql", "execute_kql", "kql.execute"),
        ("meerkat_spark.kql.parser", "parse_kql", "kql.parse"),
    )

    def __init__(self, seed: int, work: str):
        super().__init__()
        self.s = _Stream(os.path.join(work, "live"), np.random.default_rng([seed, 0]))
        # measured rounds only
        self.stats = {"planted_dups": 0, "dups_dropped": 0, "files_written": 0,
                      "bytes_written": 0, "compact_rewritten": 0}
        self.per_partition: list[float] = []
        self.stored_bytes_per_row: list[float] = []

    # ------------------------------------------------------------- set-up
    def setup(self, spark) -> None:
        """Warm-up pass: the table's first round (append, keeper fold and
        replay, reads, compaction)."""
        from meerkat_spark.engine import MeerkatEngine

        self.spark = spark
        self.engine = MeerkatEngine(spark, os.path.join(self.s.root, "no-catalog"))
        self.round()

    # --------------------------------------------------------------- round
    def round(self) -> None:
        self._batch()
        self._compact()

    def _count(self, key: str, n) -> None:
        if self.recording:
            self.stats[key] += n

    def _batch(self) -> None:
        s = self.s
        path, dups = s.next_batch()
        self._count("planted_dups", dups)
        df = self.spark.read.parquet(path)
        epoch = s.batch_no
        s.batch_no += 1
        before = _parquet_size(s.cfg.path)
        if self.timed("append", batch.ingest_dataframe,
                      df, s.cfg) is FAILED:
            return
        after = _parquet_size(s.cfg.path)
        self._count("files_written", after[0] - before[0])
        self._count("bytes_written", after[1] - before[1])
        self.timed("keeper", self._keeper_epoch, df, epoch)
        if epoch % REPLAY_EVERY == 0:
            # replay the epoch just applied: keeper state must not change
            state = self._keeper_state()
            self.timed("replay", self._keeper_epoch, df, epoch)
            self.expect("keeper replay", self._keeper_state() == state,
                        f"epoch {epoch} changed keeper state on replay")
        self._fresh_read(epoch)

    def _keeper_epoch(self, df, epoch: int) -> None:
        keepers.hll_distinct_step(df, epoch, self.s.hll_path, "user_id", by=["event_type"])
        keepers.heavy_hitters_step(df, epoch, self.s.hh_path, "user_id", capacity=HH_CAPACITY)

    def _keeper_state(self):
        out = []
        for p in (self.s.hll_path, self.s.hh_path):
            with open(os.path.join(p, "_latest")) as f:
                out.append((f.read(), sorted(os.listdir(p))))
        return out

    def _fresh_read(self, epoch: int) -> None:
        """Two KQL reads of the data appended since the previous batch's
        first day: per event type, and the top users."""
        since = gen.EVENTS_START + max(epoch - 1, 0) * gen.DAY_US
        day = str(since.astype("datetime64[D]"))
        m = self.s.model[self.s.model["_ts"] >= since]
        rows = self.timed("read", self._read, (
            f"live | where _ts >= datetime({day})"
            " | summarize n = count(), total = sum(value) by event_type"))
        if rows is not FAILED:
            want = {et: (len(g), float(g["value"].sum())) for et, g in m.groupby("event_type")}
            got = {r["event_type"]: (r["n"], r["total"]) for r in rows}
            self.expect("fresh read by type", got == want, f"{got} != {want}")
        rows = self.timed("read", self._read, (
            f"live | where _ts >= datetime({day}) | summarize n = count() by user_id"
            " | sort by n desc, user_id asc | take 5"))
        if rows is not FAILED:
            top = m.groupby("user_id").size().reset_index(name="n")
            top = top.sort_values(["n", "user_id"], ascending=[False, True]).head(5)
            want = list(zip(top["user_id"].tolist(), top["n"].tolist()))
            got = [(r["user_id"], r["n"]) for r in rows]
            self.expect("fresh read top users", got == want, f"{got} != {want}")

    def _read(self, kql: str):
        live = batch.read_table(self.spark, self.s.cfg.path)
        self.engine.register_table("live", live)
        df = self.engine.kql(kql).to_df()
        with self.tracer.span("spark.exec"):
            return df.collect()

    def _compact(self) -> None:
        s = self.s
        files_before, bytes_before = _parquet_size(s.cfg.path)
        res = self.timed("compact", compact.compact_table,
                         self.spark, s.cfg.path)
        if res is FAILED:
            return
        before = sum(b for b, _ in res.values())
        after = sum(a for _, a in res.values())
        s.model = s.model.drop_duplicates(subset=["event_id"], ignore_index=True)
        self.expect("compaction row count", after == len(s.model),
                    f"{after} rows stored, {len(s.model)} distinct generated")
        if self.recording:
            self.stats["compact_rewritten"] += bytes_before
            self.stats["dups_dropped"] += before - after
            self.per_partition.append(files_before / max(len(res), 1))
            self.stored_bytes_per_row.append(_parquet_size(s.cfg.path)[1] / max(after, 1))
        # Retention keeps the days from the last batch's first day on. A batch
        # spans three days, so from the second round on every round appends
        # to, reads and compacts the same four day partitions: the warm-up
        # pass is the table's first round, and the measured rounds all see a
        # table of one size.
        cutoff = gen.EVENTS_START + (s.batch_no - 1) * gen.DAY_US
        compact.apply_retention(s.cfg.path, str(cutoff.astype("datetime64[D]")))
        s.model = s.model[s.model["_ts"] >= cutoff].reset_index(drop=True)
        self.expect("retention", len(compact.list_day_partitions(s.cfg.path))
                    == s.model["day"].nunique())

    # -------------------------------------------------------------- checks
    def finish(self) -> None:
        hll = {r["event_type"]: r["distinct_estimate"]
               for r in keepers.read_hll_distinct(self.spark, self.s.hll_path).collect()}
        for et, users in self.s.seen_users.items():
            est, true = hll.get(et, 0), len(users)
            self.expect("hll bound", abs(est - true) <= HLL_TOLERANCE * true,
                        f"{et}: estimate {est}, exact {true}")
        hh = keepers.read_heavy_hitters_summary(self.spark, self.s.hh_path).collect()
        counts = self.s.user_counts
        err = max((r["count_error_max"] for r in hh), default=0)
        reported = set()
        for r in hh:
            true = int(counts.get(r["user_id"], 0))
            reported.add(r["user_id"])
            self.expect("misra-gries bound",
                        r["est_count"] <= true <= r["est_count"] + r["count_error_max"],
                        f"user {r['user_id']}: est {r['est_count']}, exact {true}")
        must = set(counts[counts > err].index)
        self.expect("misra-gries heavy hitters present", must <= reported,
                    f"missing {sorted(must - reported)[:5]}")

    # ------------------------------------------------------------- metrics
    def end_to_end(self) -> tuple[dict, dict]:
        t = self.times
        reads, appends = t.get("read", []), t.get("append", [])
        # a batch over its median append time: a run has few appends, and
        # the median keeps one slow append from moving the rate
        rows_per_s = gen.ROWS_PER_BATCH / p50(appends) if appends else float("nan")
        detail = {
            "ingest_rows_per_s": (rows_per_s, "1/s"),
            "keeper_epoch_p50_s": (p50(t.get("keeper", [])), "s"),
            "fresh_read_p50_s": (p50(reads), "s"),
            "compact_s": (p50(t.get("compact", [])), "s"),
            "stored_bytes_per_row": (p50(self.stored_bytes_per_row), "B"),
            "batches": (len(appends), "count"),
            "compactions": (len(t.get("compact", [])), "count"),
        }
        return {
            "request_p50_s": p50(reads),
            "rows_per_s": rows_per_s,
        }, detail

    def layers(self, spans, setup_spans) -> dict:
        n_app = max(len(self.times.get("append", [])), 1)
        n_keep = max(len(self.times.get("keeper", [])), 1)
        n_comp = max(len(self.times.get("compact", [])), 1)
        s = self.stats
        append = [x for x in spans if x.name == "ingest.append"]
        compact = [x for x in spans if x.name == "ingest.compact"]
        keeper = within(spans, "op.keeper")
        return {
            "ingest.append_s": p50([x.seconds for x in append]),
            "ingest.append_jobs": count(append, "jobs") / n_app,
            "ingest.files_written": s["files_written"] / n_app,
            "ingest.bytes_written": s["bytes_written"] / n_app,
            "ingest.compact_s": p50([x.seconds for x in compact]),
            "ingest.compact_bytes_rewritten": s["compact_rewritten"] / n_comp,
            "ingest.files_per_partition": mean(self.per_partition),
            "ingest.dup_drop_ratio": s["dups_dropped"] / max(s["planted_dups"], 1),
            "streaming.hll_step_s": p50([x.seconds for x in keeper
                                         if x.name == "streaming.hll_step"]),
            "streaming.hh_step_s": p50([x.seconds for x in keeper
                                        if x.name == "streaming.hh_step"]),
            "streaming.step_jobs": count(keeper, "jobs") / n_keep,
            "streaming.state_bytes": sum(
                _parquet_size(p)[1] for p in (self.s.hll_path, self.s.hh_path)),
            "streaming.replay_s": p50(self.times.get("replay", [])),
        }
