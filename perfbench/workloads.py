"""The workloads: inputs, operation list and output checks.

An operation is one user-level action: a suite query collected with
``toPandas``, one ``plans.Graph`` job, one sparse frame decode, or the
sparse read-back of a job's output tables.  Each workload's ``ops``
returns the same list every pass; ``check`` judges the last pass's
outputs with ``checks``.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np

import checks
import gen

FRAME_COLS = ["frame", "height", "width", "channels", "dtype"]


class Ctx:
    """What a workload needs from the run: the session, the seed and size,
    a tracer, and per-layer timings the workload records itself."""

    def __init__(self, spark, seed, size, tracer):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.pass_no = -1
        self.layer_setup: dict[str, list[float]] = {}  # name -> one value per set-up
        self.last_df = None  # DataFrame of the latest operation (planning time)
        self.counts: dict[str, dict[int, int]] = {}  # name -> {pass: count}

    def count(self, name: str, n: int) -> None:
        if self.tracer.enabled:
            per = self.counts.setdefault(name, {})
            per[self.pass_no] = per.get(self.pass_no, 0) + n

    def span(self, name, **attrs):
        return self.tracer.span(name, pass_no=self.pass_no, **attrs)

    @contextlib.contextmanager
    def timed_setup(self, name):
        """Add the elapsed time to ``layer_setup[name]``'s current entry
        (call ``new_setup`` first)."""
        t = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.layer_setup[name][-1] += time.perf_counter() - t

    def new_setup(self, *names):
        for n in names:
            self.layer_setup.setdefault(n, []).append(0.0)


def suite_op(ctx: Ctx, name: str, data_dir: str):
    """A suite query from ``queries.QUERIES``, built then collected."""
    from scanner_spark import queries as Q

    def op():
        with ctx.span("plans.build", op=name):
            df = Q.QUERIES[name](ctx.spark, data_dir)
        with ctx.span("spark.action", op=name):
            pdf = df.toPandas()
        ctx.last_df = df
        return pdf

    return op


def _duckdb(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class CorpusDedup:
    """LLM-data curation: near-duplicate clustering of a seeded corpus and
    its embeddings, batch and streaming, checked against the DuckDB twins
    and the planted duplicate groups."""

    name = "corpus_dedup"
    tables = ["documents", "embeddings"]
    OPS = ["dedup_minhash_clusters", "emb_dup_clusters", "stream_dedup_minhash_lsh"]

    def setup(self, ctx: Ctx, d: str) -> str:
        self.data_dir = os.path.join(d, "data")
        self.planted = gen.write_tables(self.data_dir, ctx.seed, ctx.size, self.tables)
        return self.data_dir

    def ops(self, ctx: Ctx):
        return [(q, suite_op(ctx, q, self.data_dir)) for q in self.OPS]

    def check(self, ctx: Ctx, out: dict) -> list[str]:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = _duckdb(self.data_dir, self.tables)
        bad = []
        try:
            for q in self.OPS:
                if q in out:
                    bad += checks.duckdb_parity(q, out[q], con, oracles[q])
        finally:
            con.close()
        # each planted exact-duplicate group is isolated by construction, so
        # it must come out as exactly one cluster of its own
        for q, key in (("dedup_minhash_clusters", "documents"), ("emb_dup_clusters", "embeddings")):
            if q not in out:
                continue
            sizes = dict(zip(out[q]["keep_id"].astype(int), out[q]["n_members"].astype(int)))
            for g in self.planted[key]:
                if sizes.get(min(g)) != len(g):
                    bad.append(f"{q}: planted group {g} is not one cluster ({sizes.get(min(g))})")
        return bad


class VideoScan:
    """Scanner's job shape: sparse decode, a Graph of kernels writing one
    table per stream, sparse read-back."""

    name = "video_scan"
    OPS = ["load_frames", "graph", "read_back"]

    def setup(self, ctx: Ctx, d: str) -> str:
        from scanner_spark.catalog import Database
        from scanner_spark.sources import ingest_videos

        ctx.new_setup("sources.encode", "sources.ingest")
        self.specs = gen.write_videos(
            os.path.join(d, "videos"), gen.video_specs(ctx.seed, ctx.size),
            timer=ctx.timed_setup)
        self.db = Database(ctx.spark, os.path.join(d, "db"))
        with ctx.timed_setup("sources.ingest"):
            ingest_videos(ctx.spark, self.db, [sp["path"] for sp in self.specs])
        self.tables = [f"frames_{k}" for k in range(len(self.specs))]
        # sparse read-back request: every other output row plus the last
        self.read_rows = [sorted(set(range(0, len(sp["want"]), 2)) | {len(sp["want"]) - 1})
                          for sp in self.specs]
        return d

    def ops(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from scanner_spark import streams as S
        from scanner_spark.frames import FRAME_SCHEMA
        from scanner_spark.kernels import histogram_op, increment_bounded_op
        from scanner_spark.kernels.image import make_blur_op
        from scanner_spark.plans.graph import CacheMode, Graph
        from scanner_spark.sources import load_frames

        spark, db = ctx.spark, self.db
        wanted = {sp["path"]: sp["want"] for sp in self.specs}
        blur = make_blur_op(3)

        def op_load_frames():
            with ctx.span("sources.load_frames"):
                df = load_frames(spark, db, wanted)
                pdf = df.toPandas()
            ctx.last_df = df
            ctx.count("sources.frames_returned", len(pdf))
            return pdf

        def op_graph():
            with ctx.span("plans.build", op="graph"):
                spec = spark.createDataFrame(
                    [(sp["path"], k) for k, sp in enumerate(self.specs)],
                    "video_path string, vid long")
                frames = load_frames(spark, db, wanted).join(F.broadcast(spec), "video_path")
                streamed = S.make_stream(frames, stream_col="vid", order_col="frame_no")
                g = Graph(db)
                node = g.input([streamed.filter(F.col("vid") == k) for k in range(len(self.specs))])
                node = g.apply(increment_bounded_op, node, ["frame_no"], "ctr", "long")
                node = g.apply(histogram_op, node, FRAME_COLS, "hist", "array<array<long>>")
                node = g.apply(blur, node, FRAME_COLS, "blurred", f"struct<{FRAME_SCHEMA}>")
                node = g.map(node, lambda df: df.select(
                    S.STREAM_COL, S.IDX_COL, "frame_no", "ctr", "hist",
                    F.col("blurred.frame").alias("blur")), "project")
                g.output(node, self.tables)
            with ctx.span("catalog.write"):
                g.run(CacheMode.OVERWRITE)
            if ctx.tracer.enabled:
                ctx.count("catalog.bytes_written", _parquet_bytes(db.db_path, self.tables))
            return True

        def op_read_back():
            out = []
            for t, rows in zip(self.tables, self.read_rows):
                with ctx.span("catalog.load", table=t):
                    df = db.load(t, rows=rows)
                    out.append(df.toPandas())
            ctx.last_df = df
            return out

        return [("load_frames", op_load_frames), ("graph", op_graph), ("read_back", op_read_back)]

    def check(self, ctx: Ctx, out: dict) -> list[str]:
        bad = []
        frames = out.get("load_frames")
        decoded = {}
        if frames is not None:
            got = sorted(zip(frames["video_path"], frames["frame_no"].astype(int)))
            want = sorted((sp["path"], f) for sp in self.specs for f in sp["want"])
            if got != want:
                bad.append(f"load_frames: returned {len(got)} frames, requested {len(want)} "
                           "(sets differ)")
            by_path = {sp["path"]: sp for sp in self.specs}
            for path, fno, buf, h, w, c in zip(frames["video_path"], frames["frame_no"],
                                               frames["frame"], frames["height"],
                                               frames["width"], frames["channels"]):
                sp = by_path[path]
                img = np.frombuffer(bytes(buf), np.uint8).reshape(int(h), int(w), int(c))
                ref = gen.frame(sp["s"], int(fno), sp["h"], sp["w"])
                decoded[(path, int(fno))] = img
                if sp["codec"] == "avc1":
                    if checks.psnr(img, ref) < checks.PSNR_FLOOR_DB:
                        bad.append(f"{sp['name']} frame {fno}: PSNR {checks.psnr(img, ref):.1f} dB")
                elif not np.array_equal(img, ref):
                    bad.append(f"{sp['name']} frame {fno}: pixels differ from the closed form")
        for k, sp in enumerate(self.specs):
            if "read_back" not in out:
                break
            rows = out["read_back"][k]
            if sorted(rows["idx"].astype(int)) != self.read_rows[k]:
                bad.append(f"{self.tables[k]}: read rows {sorted(rows['idx'])} != {self.read_rows[k]}")
                continue
            for idx, fno, ctr, hist, blurred in zip(rows["idx"], rows["frame_no"], rows["ctr"],
                                                     rows["hist"], rows["blur"]):
                idx, fno = int(idx), int(fno)
                src = (gen.frame(sp["s"], fno, sp["h"], sp["w"]) if sp["codec"] != "avc1"
                       else decoded.get((sp["path"], fno)))
                if fno != sp["want"][idx] or int(ctr) != idx:
                    bad.append(f"{self.tables[k]} row {idx}: frame_no {fno} ctr {ctr}")
                elif src is not None and [list(map(int, c)) for c in hist] != checks.histogram(src):
                    bad.append(f"{self.tables[k]} row {idx}: histogram differs")
                elif src is not None and bytes(blurred) != checks.blur3(src).tobytes():
                    bad.append(f"{self.tables[k]} row {idx}: blur differs")
        return bad


def _parquet_bytes(db_path: str, tables: list[str]) -> int:
    total = 0
    for t in tables:
        for dp, _, fns in os.walk(os.path.join(db_path, f"{t}.parquet")):
            total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns if f.endswith(".parquet"))
    return total


WORKLOADS = {w.name: w for w in (VideoScan, CorpusDedup)}
