"""``camera_stream``: the reference's live path, open loop.

8 cameras x 0.5 fps = 4 frames/s offered: a generator process separate from
the engine publishes one file per tick (8 frames, one per camera) every 2 s
on its schedule; each frame's event time is its scheduled creation time. A
micro-batch of one tick takes ~1.0 s on 4 cores, so every tick is processed
alone and latency shows the fixed cost per micro-batch rather than queueing
behind the previous batch. Frames flow
through file_frame_stream -> detect_motion_stream -> build_processing_results
-> write_results_stream. After the live phase has been caught up, a
pre-written backlog is published at once and drained.

The source reads ``in/*``: live ticks land in ``in/live`` one file at a time,
and the backlog appears as the directory ``in/backlog`` in one rename, so no
listing sees part of it and every drain micro-batch takes a full
MAX_FILES_PER_TRIGGER files.

Latency of a detection row = commit time of the micro-batch that wrote it
(the mtime of the checkpoint's ``commits/<batch>`` file) minus its frame's
scheduled creation time. The batch that read a frame is taken from the file
source's log in the checkpoint, which records each input file's batch id.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

import gen
from camgen import publish, stamp
from common import commit_times, dir_bytes, quantile, result_rows, source_batches

CAMS, TICK_S, BACKLOG_TICKS, WARM_TICKS = 8, 2.0, 48, 16
MAX_FILES_PER_TRIGGER = 12
PLACEHOLDER = gen.iso_ts(0.0)


def _us(t: float) -> int:
    return int(round(t * 1_000_000))


def stage_ticks(scenes, ticks: range, stage: str) -> list:
    """Write ``ticks`` as files of one wire-format line per camera with
    placeholder timestamps; returns [name, timestamp offsets] per tick."""
    os.makedirs(stage, exist_ok=True)
    manifest = []
    for k in ticks:
        name = f"t{k:05d}.json"
        offsets, pos, lines = [], 0, []
        for cam, scene in enumerate(scenes):
            line = gen.frame_line(cam, PLACEHOLDER, scene.frame(k))
            offsets.append(pos + gen.ts_offset(cam))
            pos += len(line) + 1
            lines.append(line)
        with open(os.path.join(stage, name), "wb") as fh:
            fh.write(b"\n".join(lines) + b"\n")
        manifest.append([name, offsets])
    return manifest


def _progress_time(p: dict) -> float:
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


class CameraStream:
    name = "camera_stream"
    loop = "open"

    def prepare(self, ctx) -> None:
        # ticks: WARM_TICKS published at warm-up, then the live ticks on the
        # generator's schedule (both staged in stage/), then the backlog
        # (staged in backlog/)
        self.live = range(WARM_TICKS, WARM_TICKS + max(4, round(ctx.seconds / TICK_S)))
        self.backlog = range(self.live.stop, self.live.stop + BACKLOG_TICKS)
        self.scenes = [gen.Scene(ctx.seed, c) for c in range(CAMS)]
        self.manifest = stage_ticks(self.scenes, range(self.live.stop), ctx.path("stage", ""))
        self.manifest += stage_ticks(self.scenes, self.backlog, ctx.path("backlog", ""))
        with open(ctx.path("manifest.json"), "w") as fh:
            json.dump(self.manifest, fh)
        os.makedirs(ctx.path("in", "live", ""), exist_ok=True)
        self.stamps: dict[int, int] = {}  # scheduled creation time (us) -> tick

    def warmup(self, ctx) -> None:
        """Start the query and feed it the first ticks one micro-batch at a
        time; it stays up for the live phase."""
        from distributed_video_analytics_flink_spark.streaming import (
            build_processing_results,
            detect_motion_stream,
            file_frame_stream,
            write_results_stream,
        )

        tr = ctx.tracer
        self._publish_now(ctx, 0)
        with tr.span("sources.file_frame_stream", "sources"):
            frames = file_frame_stream(ctx.spark, ctx.path("in", "*"), MAX_FILES_PER_TRIGGER)
        with tr.span("streaming.detect_motion_stream", "streaming"):
            det = detect_motion_stream(frames)
        with tr.span("sinks.build_processing_results", "sinks"):
            res = build_processing_results(det, faithful_count=True)
        with tr.span("sinks.write_results_stream", "sinks"):
            self.q = write_results_stream(res, ctx.path("out"), ctx.path("ck"))
        try:
            self.q.processAllAvailable()
            for k in range(1, WARM_TICKS):
                self._publish_now(ctx, k)
                self.q.processAllAvailable()
        except BaseException:
            self.q.stop()
            raise

    def _publish_now(self, ctx, k: int) -> None:
        t = time.time()
        name, offsets = self.manifest[k]
        publish(ctx.path("stage"), ctx.path("in", "live"), name, offsets, gen.iso_ts(t))
        self.stamps[_us(t)] = k

    def measure(self, ctx, sampler) -> dict:
        q = self.q
        try:
            with ctx.tracer.span("streaming.query", "streaming") as qspan:
                t0 = time.time() + 1.0
                # the backlog's frames are stamped as created after the live
                # ticks, TICK_S apart, and its files modified 1 ms apart in
                # tick order (a file source orders files by their mtime in ms)
                for j, k in enumerate(self.backlog, start=len(self.live)):
                    name, offsets = self.manifest[k]
                    path = ctx.path("backlog", name)
                    stamp(path, offsets, gen.iso_ts(t0 + j * TICK_S))
                    os.utime(path, (t0 + j / 1000,) * 2)
                    self.stamps[_us(t0 + j * TICK_S)] = k
                report = ctx.path("camgen.json")
                g = subprocess.Popen(
                    [sys.executable, os.path.join(os.path.dirname(__file__), "camgen.py"),
                     "--stage", ctx.path("stage"), "--out", ctx.path("in", "live"),
                     "--manifest", ctx.path("manifest.json"), "--t0", repr(t0),
                     "--tick", repr(TICK_S), "--first", str(self.live.start),
                     "--ticks", str(len(self.live)), "--report", report]
                )
                sampler.exclude.add(g.pid)
                if g.wait() != 0:
                    raise RuntimeError(f"camera generator exited with {g.returncode}")
                for j, k in enumerate(self.live):
                    self.stamps[_us(t0 + j * TICK_S)] = k
                q.processAllAvailable()
                t_pub = time.time()  # drain: the whole backlog appears at once
                os.rename(ctx.path("backlog"), ctx.path("in", "backlog"))
                q.processAllAvailable()
            progress = [json.loads(p.json) for p in q.recentProgress]
            run_id = str(q.runId)
        finally:
            q.stop()
        batch_of, commit = source_batches(ctx.path("ck")), commit_times(ctx.path("ck"))
        tick_batch = [batch_of[name] for name, _ in self.manifest]
        self.rows = result_rows(ctx.path("out"))
        lat = []
        for _cam, ts, _n in self.rows:
            k = self.stamps.get(ts)
            if k in self.live:
                lat.append(commit[tick_batch[k]] - ts / 1e6)
        # drain rate per micro-batch: its backlog frames over the time since
        # the previous commit (or the publication, for the first); the median
        # keeps one stalled batch from setting the figure
        drain = sorted({tick_batch[k] for k in self.backlog})
        ends = [t_pub] + [commit[b] for b in drain]
        drain_fps = quantile([
            CAMS * sum(tick_batch[k] == b for k in self.backlog) / (ends[i + 1] - ends[i])
            for i, b in enumerate(drain)
        ], 0.5)
        live_batches = {tick_batch[k] for k in self.live}
        # no live rows at all means an engine that lost its motion: the
        # latencies read 0 and check() fails every frame that lacks its row
        p50, p90 = (quantile(lat, 0.5), quantile(lat, 0.9)) if lat else (0.0, 0.0)
        e2e = {
            "work_per_s": drain_fps,
            "latency_p50_s": p50,
            "latency_p90_s": p90,
            "named": {
                "stream_latency_p50_s": p50,
                "stream_latency_p90_s": p90,
                "stream_drain_fps": drain_fps,
                "drain_batches": len(drain),
                "latency_rows": len(lat),
                "latency_batches": len(live_batches),
            },
        }
        if ctx.traced:
            last = self.live[-1]
            end_lag = commit[tick_batch[last]] - (t0 + (len(self.live) - 1) * TICK_S)
            with open(report) as fh:
                late = json.load(fh)["late_s"]
            self._layer(ctx, qspan, progress, run_id, live_batches, end_lag, late)
        return e2e

    def _layer(self, ctx, qspan, progress, run_id, live_batches, end_lag, late) -> None:
        from ledger import progress_splits

        every = progress_splits(progress)
        for p, s in zip(progress, every):
            start = _progress_time(p)
            ctx.tracer.add(f"batch.{s['batch_id']}", "streaming", start,
                           start + s["trigger_ms"] / 1e3, qspan, **s)
        splits = [s for s in every if s["rows"] > 0]
        live = [s for s in splits if s["batch_id"] in live_batches]
        jobs = ctx.ledger.job_ids(run_id)
        ctx.ledger.harvest(ctx.tracer, qspan, jobs)
        files, _ = dir_bytes(ctx.path("out"))
        m = ctx.layer
        m["streaming.batches"] = len(splits)
        for key in ("rows", "trigger_ms", "add_batch_ms", "query_planning_ms",
                    "latest_offset_ms", "wal_commit_ms", "commit_offsets_ms",
                    "state_commit_ms"):
            name = "rows_per_batch" if key == "rows" else key
            m[f"streaming.{name}_p50"] = quantile([s[key] for s in live], 0.5)
        m["streaming.state_rows"] = splits[-1]["state_rows"]
        m["streaming.state_bytes"] = splits[-1]["state_bytes"]
        m["streaming.jobs_per_batch"] = len(jobs) / len(splits)
        m["streaming.end_lag_s"] = end_lag
        m["streaming.generator_late_s"] = max(late)
        m["sinks.results.files_per_batch"] = files / len(splits)

    def check(self, ctx) -> tuple[int, int]:
        """Every frame with motion has exactly one row (and no other frame
        has one); for two cameras the rows equal detect_motion_batch run on
        the same frames."""
        from pyspark.sql import functions as F

        from distributed_video_analytics_flink_spark.operators.video import (
            detect_motion_batch,
        )
        from distributed_video_analytics_flink_spark.streaming import (
            build_processing_results,
            parse_frames,
        )

        total = len(self.manifest)
        got: dict[tuple[int, int], list[int]] = {}
        for cam_id, ts, n in self.rows:
            k = self.stamps.get(ts, -1)
            got.setdefault((int(cam_id[3:]), k), []).append(n)
        failed = sum(
            1 for key in got if key[1] < 0 or not self.scenes[key[0]].has_motion(key[1])
        )
        for cam, scene in enumerate(self.scenes):
            for k in range(total):
                rows = got.get((cam, k), [])
                if scene.has_motion(k) and len(rows) != 1:
                    failed += 1
        first = ctx.seed % CAMS
        picked = [first, (first + 1 + ctx.seed // CAMS % (CAMS - 1)) % CAMS]
        raw = ctx.spark.read.text(ctx.path("in", "*"))
        keep = None
        for cam in picked:
            cond = F.col("value").startswith('{"camId": "cam%d"' % cam)
            keep = cond if keep is None else keep | cond
        with ctx.tracer.span("operators.detect_motion_batch", "operators"):
            twin = build_processing_results(
                detect_motion_batch(parse_frames(raw.filter(keep))), faithful_count=True
            ).select("camera_id", F.unix_micros("frame_timestamp"), "detection_count")
            want = {(r[0], r[1]): r[2] for r in twin.collect()}
        have = {(c, ts): n for c, ts, n in self.rows if int(c[3:]) in picked}
        failed += sum(want.get(k) != have.get(k) for k in want.keys() | have.keys())
        return CAMS * total, failed
