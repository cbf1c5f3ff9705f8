"""Turns one run's record (written by the Scala driver) into metrics.

Every workload reports every metric. End-to-end metrics are defined for
all workloads through two op roles: the workload's main op and its read
op. A per-layer metric of a layer the workload does not exercise reads 0.
"""
WORKLOADS = ("bulk_build", "append_churn")

# workload -> (main op kind, read op kind)
ROLES = {
    "bulk_build": ("build", "restore"),
    "append_churn": ("append", "lookup"),
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "read_p50_ms": "ms",
    "peak_heap_mb": "MB",
}

# name -> (unit, workloads that exercise it)
_ALL = WORKLOADS
PER_LAYER = {
    "build_docs_per_s": ("docs/s", ("bulk_build",)),
    "restore_docs_per_s": ("docs/s", ("bulk_build",)),
    "stored_bytes_per_input_byte": ("ratio", ("bulk_build",)),
    "append_p50_ms": ("ms", ("append_churn",)),
    "append_tail_ms": ("ms", ("append_churn",)),
    "lookup_p50_ms": ("ms", ("append_churn",)),
    "lookup_tail_ms": ("ms", ("append_churn",)),
    "compact_s": ("s", ("append_churn",)),
    "op_error_rate": ("ratio", _ALL),
    "trace.overhead": ("ratio", _ALL),
    "ingest.scan_s": ("s", ("bulk_build",)),
    "ingest.extract_s": ("s", ("bulk_build",)),
    "ingest.rejected_docs": ("count", ("bulk_build",)),
    "route.s": ("s", ("bulk_build",)),
    "shuffle.write_bytes": ("bytes", _ALL),
    "shuffle.write_ms": ("ms", _ALL),
    "shuffle.fetch_wait_ms": ("ms", _ALL),
    "shuffle.spill_bytes": ("bytes", _ALL),
    "writer.indexing_ms": ("ms", ("bulk_build",)),
    "writer.flush_ms": ("ms", ("bulk_build",)),
    "writer.files": ("count", ("bulk_build",)),
    "writer.bytes": ("bytes", ("bulk_build",)),
    "writer.task_max_over_median": ("ratio", ("bulk_build",)),
    "writer.plain_write_s": ("s", ("bulk_build",)),
    "writer.full_write_s": ("s", ("bulk_build",)),
    "commit.ms": ("ms", _ALL),
    "commit.fs_read_ops": ("count", _ALL),
    "commit.fs_write_ops": ("count", _ALL),
    "commit.ms_per_generation": ("ms", ("append_churn",)),
    "read.plan_ms": ("ms", _ALL),
    "read.scan_ms": ("ms", _ALL),
    "read.partitions": ("count", _ALL),
    "read.pruned_ratio": ("ratio", _ALL),
    "retention.delete_ms": ("ms", ("append_churn",)),
    "retention.fs_read_ops": ("count", ("append_churn",)),
    "retention.files_deleted": ("count", ("append_churn",)),
    "sched.jobs": ("count", _ALL),
    "sched.stages": ("count", _ALL),
    "sched.tasks": ("count", _ALL),
    "jvm.gc_ms": ("ms", _ALL),
    "calib.cpu_ms_start": ("ms", _ALL),
    "calib.cpu_ms_end": ("ms", _ALL),
    "calib.job_ms_start": ("ms", _ALL),
    "calib.job_ms_end": ("ms", _ALL),
}


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """The highest nearest-rank percentile that has ten samples beyond it:
    the 11th-largest sample (p58 of 24 samples, p90 of 100)."""
    s = sorted(xs)
    if len(s) < 11:
        raise ValueError(f"{len(s)} samples; a tail with ten beyond it needs 11")
    return s[-11]


def samples(record, kind):
    """Times of the successful ops of `kind`."""
    return [o["ms"] for o in record["ops"] if o["kind"] == kind and o["error"] is None]


def end_to_end(workload, record):
    main, read = ROLES[workload]
    return {
        "setup_s": median(record["setup_s"]),
        "op_p50_ms": median(samples(record, main)),
        "read_p50_ms": median(samples(record, read)),
        "peak_heap_mb": max(record["heap_mb"]),
    }


def accounting(record):
    """(attempted, failed) over every op, warm-up included; an op withdrawn
    by a failed correctness check counts as failed."""
    return len(record["ops"]), sum(o["error"] is not None for o in record["ops"])


def per_layer(workload, record, attempted, failed):
    layers = dict(record["layers"])
    valid = float(record["env"].get("input_valid_docs", "0"))
    main, read = ROLES[workload]
    if workload == "bulk_build":
        layers["build_docs_per_s"] = valid / (median(samples(record, "build")) / 1e3)
        layers["restore_docs_per_s"] = valid / (median(samples(record, "restore")) / 1e3)
    else:
        appends = samples(record, "append") + samples(record, "append_traced")
        lookups = samples(record, "lookup") + samples(record, "lookup_traced")
        layers["append_p50_ms"] = median(appends)
        layers["append_tail_ms"] = tail(appends)
        layers["lookup_p50_ms"] = median(lookups)
        layers["lookup_tail_ms"] = tail(lookups)
        layers["compact_s"] = median(samples(record, "compact")) / 1e3
        layers["retention.delete_ms"] = median(samples(record, "compact"))
    traced_main = main + "_traced"
    layers["trace.overhead"] = (median(samples(record, traced_main))
                                / median(samples(record, main)) - 1.0)
    layers["op_error_rate"] = failed / attempted
    out = {}
    for name, (unit, active) in PER_LAYER.items():
        if workload in active:
            if name not in layers or layers[name] is None:
                raise KeyError(f"{workload} did not report per-layer metric {name}")
            out[name] = (layers[name], unit)
        else:
            out[name] = (0.0, unit)
    return out
