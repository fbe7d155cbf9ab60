"""What each benchmark metric means: its layer, the workloads it is
about, and (for per-layer metrics) the end-to-end metric it should move.

BENCHMARK.json holds each metric's name, unit, better-direction and
bound; this module holds the rest, keyed by the same names (the
self-test checks the two agree). Every metric is printed on every
workload; on a workload outside `workloads` an end-to-end metric keeps
the definition given here and a per-layer metric of an idle layer reads 0.
"""

from __future__ import annotations

ALL = ("fetch_hotkey", "tail_read_mix")

#: reserved for verifying a later change's claim; never used while a
#: change is being written or tuned (the steadiness runs use 1..20)
HELD_OUT_SEED = 90_001

#: CPU seconds are user + system time of the driver, the JVM and its
#: Python workers during the operation (workloads.cpu_seconds): what the
#: engine spends, without the time a shared host withholds the CPU. The
#: same operations in wall seconds are printed on the `info` line.
#: name -> (layer, workloads, definition)
END_TO_END = {
    "setup_s": ("session", ALL,
                "JVM launch with its pinned, pre-touched heap, plus the untimed "
                "warm-up: a fixed tiny feed (fetch_hotkey) or the catch-up of the "
                "table to epoch 7 (tail_read_mix); inputs and the oracle excluded"),
    "apply_cpu_ms_per_event": ("streaming.pipeline", ALL,
                               "CPU milliseconds per event committed: the replay "
                               "(fetch_hotkey) or the closed loop's stream triggers "
                               "(tail_read_mix)"),
    "commit_cpu_s_p50": ("streaming.pipeline", ("tail_read_mix",),
                         "CPU seconds of one commit: a closed-loop stream trigger, from "
                         "segment landed to journal commit visible (tail_read_mix), or "
                         "one epoch's apply_batch call, prefetch of the next included "
                         "(fetch_hotkey)"),
    "commit_cpu_s_p80": ("streaming.pipeline", ("tail_read_mix",),
                         "as commit_cpu_s_p50, 80th percentile"),
    "snapshot_read_cpu_s_p50": ("sinks.target", ("tail_read_mix",),
                                "CPU seconds of read_resolved + count + digest: after every "
                                "epoch (tail_read_mix) or 32 times after the replay "
                                "(fetch_hotkey)"),
    "snapshot_read_cpu_s_p80": ("sinks.target", ("tail_read_mix",),
                                "as snapshot_read_cpu_s_p50, 80th percentile"),
    "changelog_read_cpu_s_p50": ("sinks.target", ("tail_read_mix",),
                                 "CPU seconds of read_changes_between over one commit's "
                                 "window, rows collected: every non-compacting epoch "
                                 "(tail_read_mix) or 32 reads of the single-epoch windows "
                                 "after the replay, interleaved with the snapshot reads "
                                 "(fetch_hotkey)"),
    "table_bytes_per_live_row": ("sinks.target", ("tail_read_mix",),
                                 "on-disk base + deltas + journal over live rows, "
                                 "at the end of the run"),
    "peak_rss_mb": ("session", ALL,
                    "summed VmHWM of the driver, the JVM and the Python workers"),
}

#: name -> (layer, workloads, the end-to-end metric it should move)
PER_LAYER = {
    "binlog.scan_s": ("sources.binlog", ("tail_read_mix",),
                      "apply_cpu_ms_per_event on tail_read_mix"),
    "binlog.bytes_read": ("sources.binlog", ("tail_read_mix",),
                          "apply_cpu_ms_per_event on tail_read_mix"),
    "binlog.list_segments_s": ("sources.binlog", ("tail_read_mix",),
                               "commit_cpu_s_p50 on tail_read_mix"),
    "pipeline.apply_batch_s": ("streaming.pipeline", ALL, "apply_cpu_ms_per_event on all"),
    "pipeline.jobs_per_epoch": ("streaming.pipeline", ("tail_read_mix",),
                                "commit_cpu_s_p50 on tail_read_mix"),
    "pipeline.trigger_overhead_s": ("streaming.pipeline", ("tail_read_mix",),
                                    "commit_cpu_s_p50 on tail_read_mix"),
    "pipeline.prefetch_hidden_share": ("streaming.pipeline", ("fetch_hotkey",),
                                       "apply_cpu_ms_per_event on fetch_hotkey"),
    "normalize.self_s": ("operators.normalize", ("tail_read_mix",),
                         "apply_cpu_ms_per_event on tail_read_mix"),
    "normalize.rows_out_per_in": ("operators.normalize", ("tail_read_mix",),
                                  "apply_cpu_ms_per_event on tail_read_mix"),
    "dedupe.self_s": ("operators.dedupe", ("tail_read_mix",), "apply_cpu_ms_per_event on tail_read_mix"),
    "dedupe.winners_per_event": ("operators.dedupe", ("tail_read_mix",),
                                 "apply_cpu_ms_per_event on tail_read_mix"),
    "dedupe.shuffle_bytes": ("operators.dedupe", ("tail_read_mix",),
                             "apply_cpu_ms_per_event on tail_read_mix"),
    "dedupe.task_skew": ("operators.dedupe", ("tail_read_mix",), "apply_cpu_ms_per_event on tail_read_mix"),
    "fetch.prepare_s": ("operators.fetch", ("fetch_hotkey",), "apply_cpu_ms_per_event on fetch_hotkey"),
    "fetch.resolve_s": ("operators.fetch", ("fetch_hotkey",), "apply_cpu_ms_per_event on fetch_hotkey"),
    "fetch.winners_s": ("operators.fetch", ("fetch_hotkey",), "apply_cpu_ms_per_event on fetch_hotkey"),
    "fetch.delta_s": ("operators.fetch", ("fetch_hotkey",), "apply_cpu_ms_per_event on fetch_hotkey"),
    "fetch.needy_keys": ("operators.fetch", ("fetch_hotkey",),
                         "apply_cpu_ms_per_event on fetch_hotkey"),
    "fetch.shuffle_bytes": ("operators.fetch", ("fetch_hotkey",),
                            "apply_cpu_ms_per_event on fetch_hotkey"),
    "fetch.task_skew": ("operators.fetch", ("fetch_hotkey",), "apply_cpu_ms_per_event on fetch_hotkey"),
    "target.commit_delta_s": ("sinks.target", ("tail_read_mix",),
                              "apply_cpu_ms_per_event on tail_read_mix; table_bytes_per_live_row"),
    "target.delta_bytes_per_event": ("sinks.target", ("tail_read_mix",),
                                     "apply_cpu_ms_per_event on tail_read_mix; "
                                     "table_bytes_per_live_row"),
    "target.compaction_s": ("sinks.target", ("tail_read_mix",),
                            "commit_cpu_s_p80 on tail_read_mix; "
                            "apply_cpu_ms_per_event on tail_read_mix"),
    "target.compactions": ("sinks.target", ("tail_read_mix",),
                           "commit_cpu_s_p80 on tail_read_mix; "
                           "apply_cpu_ms_per_event on tail_read_mix"),
    "target.compaction_bytes_rewritten": ("sinks.target", ("tail_read_mix",),
                                          "commit_cpu_s_p80 on tail_read_mix; "
                                          "apply_cpu_ms_per_event on tail_read_mix"),
    "target.deltas_at_read": ("sinks.target", ("tail_read_mix",),
                              "snapshot_read_cpu_s_p50, changelog_read_cpu_s_p50, "
                              "commit_cpu_s_p50 on tail_read_mix"),
    "target.journal_state_s": ("sinks.target", ("tail_read_mix",),
                               "snapshot_read_cpu_s_p50, changelog_read_cpu_s_p50, "
                               "commit_cpu_s_p50 on tail_read_mix"),
    "session.jvm_start_s": ("session", ALL, "setup_s on all"),
    "session.warmup_s": ("session", ALL, "setup_s on all"),
    "session.gc_s": ("session", ALL,
                     "apply_cpu_ms_per_event on all"),
    "host.calibration_s": ("host", ALL, "none: a diagnostic for host drift, never a gate"),
    "trace.apply_events_per_s": ("trace", ALL,
                                 "none: the traced run's throughput; against the untraced "
                                 "median it gives the tracing overhead"),
}
