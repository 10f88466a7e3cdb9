"""``mjpeg_backfill``: batch backfill of recorded MJPEG-AVI camera files,
closed loop with one client.

8 cameras x 12 frames at 640x480 (the camera scenes, JPEG-compressed) flow
through read_video_chunks -> detect_motion_batch -> build_processing_results
-> write_results_batch. Each pass writes a fresh results table; a run makes
one pass per 4 of its seconds. Bound by JPEG decode, and bypasses the
streaming state store and the micro-batch trigger.
"""

from __future__ import annotations

import statistics
import time

import gen
from common import dir_bytes, force, quantile, result_rows

CAMS, PER_CAM = 8, 12
PASS_S = 4  # nominal seconds per pass: --seconds / PASS_S passes per run
WARM_PER_CAM = 2  # a short file per camera warms every task of a pass


class MjpegBackfill:
    name = "mjpeg_backfill"
    loop = "closed"

    def prepare(self, ctx) -> None:
        self.stills = gen.mjpeg_stills(ctx.seed, ctx.cache)
        self.seqs = gen.mjpeg_sequences(ctx.seed, CAMS, PER_CAM)
        gen.write_mjpeg_files(self.stills, self.seqs, ctx.path("avi", ""))
        warm = gen.mjpeg_sequences(ctx.seed + 1, CAMS, WARM_PER_CAM)
        gen.write_mjpeg_files(self.stills, warm, ctx.path("warm_avi", ""))
        self.passes: list[str] = []

    def _pass(self, ctx, src: str, out: str):
        from distributed_video_analytics_flink_spark.operators.video import (
            detect_motion_batch,
        )
        from distributed_video_analytics_flink_spark.sources.video_files import (
            read_video_chunks,
        )
        from distributed_video_analytics_flink_spark.streaming import (
            build_processing_results,
            write_results_batch,
        )

        tr = ctx.tracer
        with tr.span("sources.read_video_chunks", "sources"):
            chunks = read_video_chunks(ctx.spark, src, glob="*.avi")
        with tr.span("operators.detect_motion_batch", "operators"):
            det = detect_motion_batch(chunks)
        with tr.span("sinks.build_processing_results", "sinks"):
            res = build_processing_results(det, faithful_count=True)
        if ctx.ledger is not None:
            ctx.ledger.set_group(f"backfill:{out}")
        with tr.span("sinks.write_results_batch", "sinks") as sp:
            write_results_batch(res, out)
        return sp

    def warmup(self, ctx) -> None:
        self._pass(ctx, ctx.path("warm_avi"), ctx.path("warm_out"))

    def measure(self, ctx, sampler) -> dict:
        times, spans = [], []
        for _ in range(max(1, round(ctx.seconds / PASS_S))):
            out = ctx.path(f"out{len(times)}")
            t0 = time.time()
            spans.append(self._pass(ctx, ctx.path("avi"), out))
            times.append(time.time() - t0)
            self.passes.append(out)
        n = CAMS * PER_CAM
        fps = [n / t for t in times]
        e2e = {
            "work_per_s": quantile(fps, 0.5),
            # every frame of a pass is committed when its pass returns
            "latency_p50_s": quantile(times, 0.5),
            "latency_p90_s": quantile(times, 0.9),
            "named": {"backfill_fps": quantile(fps, 0.5), "passes": len(times),
                      "frames_per_pass": n},
        }
        if ctx.traced:
            self._layer(ctx, spans)
        return e2e

    def _layer(self, ctx, spans) -> None:
        from distributed_video_analytics_flink_spark.functions.motion import (
            motion_boxes_from_gray,
            preprocess_gray,
        )
        from distributed_video_analytics_flink_spark.sources.jpeg import decode_jpeg
        from distributed_video_analytics_flink_spark.sources.video_files import (
            read_video_chunks,
        )

        led, tr, m = ctx.ledger, ctx.tracer, ctx.layer
        sp = spans[-1]
        led_tot = led.harvest(tr, sp, led.job_ids(f"backfill:{self.passes[-1]}"), tasks=True)
        task_s = led_tot.pop("task_s")
        m["operators.video.tasks"] = led_tot["tasks"]
        m["operators.video.executor_cpu_s"] = led_tot["executor_cpu_s"]
        m["operators.video.shuffle_write_bytes"] = led_tot["shuffle_write_bytes"]
        m["operators.video.task_skew"] = max(task_s) / statistics.median(task_s)
        m["sinks.results.write_s"] = sp.duration
        m["sinks.results.files"], m["sinks.results.bytes"] = dir_bytes(self.passes[-1])
        # the scan alone, forced without the motion pipeline
        with tr.span("sources.chunks.scan", "sources") as scan:
            led.set_group("backfill:scan")
            force(read_video_chunks(ctx.spark, ctx.path("avi"), glob="*.avi"))
        led.harvest(tr, scan, led.job_ids("backfill:scan"))
        m["sources.chunks.scan_s"] = scan.duration
        # per-frame kernels on this workload's own chunks, one core
        with tr.span("sources.jpeg.decode_jpeg", "sources") as dec:
            pixels = [decode_jpeg(j) for j in self.stills]
        m["sources.jpeg.decode_ms_per_frame"] = dec.duration * 1e3 / len(pixels)
        with tr.span("functions.motion.preprocess_gray", "functions") as gs:
            grays = [preprocess_gray(p.tobytes(), *p.shape) for p in pixels]
        m["functions.motion.gray_ms_per_frame"] = gs.duration * 1e3 / len(grays)
        with tr.span("functions.motion.motion_boxes_from_gray", "functions") as bs:
            for a, b in zip(grays, grays[1:]):
                motion_boxes_from_gray(a, b, gen.ROWS, gen.COLS)
        m["functions.motion.boxes_ms_per_frame"] = bs.duration * 1e3 / max(len(grays) - 1, 1)

    def check(self, ctx) -> tuple[int, int]:
        """Each pass's rows equal the raw-pixel twin: the same JPEGs decoded
        and run through the motion kernels frame by frame, in order."""
        from distributed_video_analytics_flink_spark.functions.motion import (
            motion_boxes_from_gray,
            preprocess_gray,
        )
        from distributed_video_analytics_flink_spark.sources.jpeg import decode_jpeg
        from distributed_video_analytics_flink_spark.sources.video_files import (
            _EPOCH_US,
            FRAME_INTERVAL_MS,
        )

        gray = []
        for j in self.stills:
            px = decode_jpeg(j)
            gray.append(preprocess_gray(px.tobytes(), *px.shape))
        want: dict[tuple[str, int], int] = {}
        for cam, seq in enumerate(self.seqs):
            for i in range(1, len(seq)):
                boxes = motion_boxes_from_gray(
                    gray[seq[i - 1]], gray[seq[i]], gen.ROWS, gen.COLS
                )
                if boxes:
                    want[(f"cam{cam}", i)] = len(boxes)
        failed = 0
        step = FRAME_INTERVAL_MS * 1000
        for out in self.passes:
            rows = result_rows(out)
            have = {(c, round((u - _EPOCH_US) / step)): n for c, u, n in rows}
            # one count per wrong or missing frame, and per duplicate row
            failed += sum(want.get(k) != have.get(k) for k in want.keys() | have.keys())
            failed += len(rows) - len(have)
        return CAMS * PER_CAM * len(self.passes), failed
