#!/usr/bin/env python3
"""Where a JFR recording's CPU samples go, by thread and by stage.

    python3 dev/jfr_top.py REC.jfr

Runs `jfr print --json --stack-depth 512` on the recording and reads
its `jdk.ExecutionSample` events one at a time, so a recording of any
length fits in memory. Each sample goes to a bucket: its thread, with
digits folded ("Executor task launch worker for task N.N in stage N.N
(TID N)"), and its stage, named by the first marker frame found from
the leaf down:

    parse   org.apache.spark.sql.execution.columnar.CachedRDDBuilder
            (a task that fills a persisted plan, e.g. the ingest parse)
    write   org.apache.spark.sql.execution.datasources.FileFormatWriter
            (a file write: the ingest sink and DLQ)
    main    the driver's `main` thread, whatever it runs

Samples with no marker fall in "other". For each bucket, largest first,
it prints the sample count and share, then the top 15 inclusive frames
(a method anywhere on the stack, counted once per sample; frames on
every stack of the bucket are left out) and the top 15 self frames (the
leaf).
JDK 17's `jfr` has no `view` command; this is the attribution it would
give. Record with a stack depth that reaches the marker frames, e.g.
`-XX:StartFlightRecording=settings=profile,filename=REC.jfr
 -XX:FlightRecorderOptions:stackdepth=512`; `profile` samples each
thread every 10 ms, and a copy of `$JAVA_HOME/lib/jfr/profile.jfc`
with a shorter `jdk.ExecutionSample` period gives more samples.
"""

import collections
import json
import re
import subprocess
import sys

UUID = r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
DEPTH = 512  # frames per stack `jfr print` emits; the recording's stackdepth
TOP = 15  # frames listed per bucket
MARKERS = [
    ("parse", "org.apache.spark.sql.execution.columnar.CachedRDDBuilder"),
    ("write", "org.apache.spark.sql.execution.datasources.FileFormatWriter"),
]


def events(stream):
    """Yields the event objects of a `jfr print --json` stream."""
    dec = json.JSONDecoder()
    buf = ""
    chunk = 1 << 20
    while '"events"' not in buf:
        more = stream.read(chunk)
        if not more:
            return
        buf += more
    pos = buf.index("[", buf.index('"events"')) + 1
    while True:
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos < len(buf):
                break
            more = stream.read(chunk)
            if not more:
                return
            buf, pos = buf[pos:] + more, 0
        if buf[pos] == "]":
            return
        try:
            event, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            more = stream.read(chunk)
            if not more:
                raise
            buf, pos = buf[pos:] + more, 0
            continue
        yield event
        pos = end
        if pos > chunk:
            buf, pos = buf[pos:], 0


def frame_name(frame):
    m = frame.get("method") or {}
    cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def stage_of(thread, frames):
    for f in frames:
        cls = f.rsplit(".", 1)[0]
        for stage, marker in MARKERS:
            if cls == marker or cls.startswith(marker + "$"):
                return stage
    return "main" if thread == "main" else "other"


def main():
    if len(sys.argv) != 2 or not sys.argv[1].endswith(".jfr"):
        sys.exit("usage: jfr_top.py REC.jfr")
    proc = subprocess.Popen(["jfr", "print", "--json", "--stack-depth", str(DEPTH),
                             "--events", "jdk.ExecutionSample", sys.argv[1]],
                            stdout=subprocess.PIPE, text=True)

    counts = collections.Counter()
    inclusive = collections.defaultdict(collections.Counter)
    self_frames = collections.defaultdict(collections.Counter)
    truncated = 0
    for e in events(proc.stdout):
        if e.get("type") != "jdk.ExecutionSample":
            continue
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        thread = re.sub(r"\d+", "N", re.sub(UUID, "UUID", thread))
        trace = v.get("stackTrace") or {}
        truncated += bool(trace.get("truncated"))
        frames = [frame_name(f) for f in trace.get("frames") or []]
        key = (thread, stage_of(thread, frames))
        counts[key] += 1
        inclusive[key].update(set(frames))
        if frames:
            self_frames[key][frames[0]] += 1
    if proc.wait() != 0:
        sys.exit(f"jfr_top: jfr print exited {proc.returncode}")

    total = sum(counts.values())
    print(f"{total} execution samples, {truncated} with truncated stacks")
    for (thread, stage), n in counts.most_common():
        print(f"\n== {stage} | {thread}: {n} samples ({100 * n / max(total, 1):.1f}%)")
        for title, table in (("inclusive", inclusive), ("self", self_frames)):
            print(f"  -- top {title}")
            rows = [(f, k) for f, k in table[(thread, stage)].most_common()
                    if k < n or table is self_frames]
            for frame, k in rows[:TOP]:
                print(f"  {k:7d} {100 * k / n:5.1f}%  {frame}")


if __name__ == "__main__":
    main()
