#!/usr/bin/env python3
"""Where an ingest run's CPU went, by layer, from a JFR recording.

    python3 scripts/jfr_layers.py <recording.jfr> [--top N]

Runs `jfr print --stack-depth 512 --events jdk.ExecutionSample` on the
recording and prints, over the CPU samples taken on Spark executor task
threads (the ingest tasks), the inclusive share of each layer: a sample
counts for a layer when any frame of its stack belongs to it. Shares of
different layers overlap (regex runs inside parse and fingerprint;
dictionary encoding inside the Parquet write). It then prints the `graft.*`
call sites that regex frames run under, innermost `graft.*` frame first.

A recording of the benchmark's ingest workload (see README, "Profiling"):

    JAVA_TOOL_OPTIONS='-XX:StartFlightRecording=filename=ingest.jfr,settings=profile,delay=25s' \\
        python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 20 --trace 0
"""
import argparse
import collections
import subprocess
import sys

TASK_THREAD = "Executor task launch worker"

# layer -> frame prefixes (any match puts the sample in the layer)
LAYERS = [
    ("carry scan", ("graft.slowlog.SlowLogParser$.scanCarry",)),
    ("parse", ("graft.slowlog.SlowLogParser$ParseIterator.",)),
    ("fingerprint", ("graft.slowlog.Fingerprint$.fingerprint",)),
    ("regex", ("java.util.regex.",)),
    ("hadoop line reader", ("org.apache.hadoop.util.LineReader.",
                            "org.apache.hadoop.mapreduce.lib.input.LineRecordReader.")),
    ("parquet write", ("org.apache.parquet.hadoop.InternalParquetRecordWriter.",
                       "org.apache.parquet.hadoop.ParquetRecordWriter.",
                       "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.")),
    ("parquet dictionary", ("org.apache.parquet.column.values.dictionary.",)),
]


def samples(path):
    """Yield (thread name, [frames, innermost first]) per execution sample."""
    cmd = ["jfr", "print", "--stack-depth", "512", "--events",
           "jdk.ExecutionSample", path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    thread, frames, in_stack = None, [], False
    for raw in proc.stdout:
        line = raw.strip()
        if line.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif line.startswith("sampledThread"):
            thread = line.split("=", 1)[1].strip()
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line and line != "...":
            frames.append(line)
        elif line == "}" and thread is not None:
            yield thread, frames
            thread = None
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def site(frame):
    """`pkg.Class.method(...) line: N` -> `pkg.Class.method:N`."""
    name = frame.split("(", 1)[0]
    line = frame.rsplit("line:", 1)[1].split()[0] if "line:" in frame else "?"
    return f"{name}:{line}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=10)
    a = ap.parse_args()
    total = task = 0
    layer_hits = collections.Counter()
    regex_sites = collections.Counter()
    for thread, frames in samples(a.recording):
        total += 1
        if TASK_THREAD not in thread:
            continue
        task += 1
        for name, prefixes in LAYERS:
            if any(f.startswith(prefixes) for f in frames):
                layer_hits[name] += 1
        if any(f.startswith("java.util.regex.") for f in frames):
            caller = next((f for f in frames if f.startswith("graft.")), None)
            regex_sites[site(caller) if caller else "(no graft frame)"] += 1
    if task == 0:
        sys.exit(f"no samples on executor task threads ({total} samples in all)")
    print(f"samples: {total}, on executor task threads: {task} ({100.0 * task / total:.1f}%)")
    print("inclusive share of task-thread CPU samples, by layer:")
    for name, _ in LAYERS:
        print(f"  {name:<20} {100.0 * layer_hits[name] / task:6.1f}%")
    print(f"graft call sites under regex frames (top {a.top}, share of task samples):")
    for s, n in regex_sites.most_common(a.top):
        print(f"  {100.0 * n / task:6.2f}%  {s}")


if __name__ == "__main__":
    main()
