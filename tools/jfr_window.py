#!/usr/bin/env python3
"""Buckets the CPU samples of one operation's window in a Flight Recorder file.

    python3 tools/jfr_window.py <recording.jfr> <window frame> [--call I] [--gap S] [--top N]

The samples whose stack holds a frame starting with <window frame> (a
class, or `Class.method`; e.g. `graft.polylda.PolyTrainer.train`) mark the
operation. A run may call it several times: marked samples more than
--gap seconds apart (default 1) start a new call, and the window is the
span of call --call (default -1, the last). Every sample of
every thread inside that span goes to one bucket: `broadcast` when any
frame broadcasts or reads a broadcast variable; else the bucket of the
innermost frame that names one (lookup before kernel within a frame):

    lookup          turning documents into kernel input and looking up
                    the model's rows for them
    kernel          the E-step fixed point (EmCore's Kernel)
    exchange serde  Java serialization or a shuffle read/write
    block-store put caching a block (MemoryStore, BlockManager puts)
    driver          none of these, on the thread that holds the window frame
    other           none of these (Spark scheduling, Catalyst, GC helpers)

It prints the share and count per bucket, then the top frames of the
samples left in `other`. Recording, with no change to the program:

    JAVA_TOOL_OPTIONS='-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile
      -XX:FlightRecorderOptions=stackdepth=1024' python3 ldabench/run.py ...

It calls `jfr print --json --stack-depth 300`: jfr's default of five
frames per stack hides every caller.
"""
import argparse
import collections
import json
import subprocess
import sys
from datetime import datetime

BROADCAST = ("org.apache.spark.broadcast.", "org.apache.spark.SparkContext.broadcast")
BUCKETS = [
    ("lookup", ("graft.lda.EmCore.flatten", "graft.lda.EmCore$Lookup", "graft.lda.EmCore$PackedBeta",
                "graft.lda.EmCore$Kernel.resolve", "graft.lda.EmCore$DocBlock", "graft.lda.EmCore.terms",
                "graft.polylda.PolyTrainer.$anonfun$lookup", "graft.polylda.PolyDocs",
                "graft.lda.VanillaDocs")),
    ("kernel", ("graft.lda.EmCore$Kernel",)),
    ("exchange serde", ("java.io.ObjectInputStream", "java.io.ObjectOutputStream",
                        "org.apache.spark.shuffle.", "org.apache.spark.rdd.ShuffledRDD",
                        "org.apache.spark.util.collection.ExternalSorter",
                        "org.apache.spark.serializer.")),
    ("block-store put", ("org.apache.spark.storage.memory.MemoryStore.put",
                         "org.apache.spark.storage.BlockManager.doPut")),
]
NAMES = ["broadcast"] + [b for b, _ in BUCKETS] + ["driver", "other"]


def frames(event):
    """The sample's frames, innermost first, as `pkg.Class.method` strings
    (jfr's JSON writes `pkg/Class`); a Scala object's class loses its
    trailing `$` (`graft.lda.Trainer.train`)."""
    trace = event["values"].get("stackTrace") or {}
    out = []
    for f in trace.get("frames", []):
        m = f.get("method") or {}
        cls = (m.get("type") or {}).get("name", "?").replace("/", ".").rstrip("$")
        out.append("%s.%s" % (cls, m.get("name", "?")))
    return out


def when(event):
    return datetime.fromisoformat(event["values"]["startTime"].replace("Z", "+00:00"))


def thread(event):
    t = event["values"].get("sampledThread") or {}
    return t.get("javaName") or t.get("osName") or "?"


def bucket(stack, sampled, window_thread):
    if any(f.startswith(BROADCAST) for f in stack):
        return "broadcast"
    for f in stack:
        for name, prefixes in BUCKETS:
            if f.startswith(prefixes):
                return name
    return "driver" if sampled == window_thread else "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("frame", help="frame prefix that marks the operation, e.g. graft.lda.Trainer.train")
    ap.add_argument("--call", type=int, default=-1, help="which call of the operation, as a list index")
    ap.add_argument("--gap", type=float, default=1.0, help="seconds between marked samples that split calls")
    ap.add_argument("--top", type=int, default=10, help="top frames of `other` to print")
    args = ap.parse_args()

    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "300",
                          "--events", "jdk.ExecutionSample", args.recording],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    marked = [e for e in events if any(f.startswith(args.frame) for f in frames(e))]
    if not marked:
        sys.exit("no sample holds a frame starting with %s" % args.frame)
    times = sorted(map(when, marked))
    calls = [[times[0]]]
    for t in times[1:]:
        if (t - calls[-1][-1]).total_seconds() > args.gap:
            calls.append([])
        calls[-1].append(t)
    start, end = calls[args.call][0], calls[args.call][-1]
    window_thread = collections.Counter(map(thread, marked)).most_common(1)[0][0]

    counts = collections.Counter()
    others = collections.Counter()
    for e in events:
        if not start <= when(e) <= end:
            continue
        stack = frames(e)
        b = bucket(stack, thread(e), window_thread)
        counts[b] += 1
        if b == "other" and stack:
            others[stack[0]] += 1
    total = sum(counts.values())
    print("call %d of %d: window %.3f s, %d samples, marked thread %s"
          % (args.call % len(calls), len(calls), (end - start).total_seconds(), total, window_thread))
    for name in NAMES:
        print("  %-16s %5.1f %%  %6d" % (name, 100.0 * counts[name] / total, counts[name]))
    print("top frames of other:")
    for f, n in others.most_common(args.top):
        print("  %6d  %s" % (n, f))


if __name__ == "__main__":
    main()
