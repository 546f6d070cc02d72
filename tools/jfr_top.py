#!/usr/bin/env python3
"""Top frames of a JFR recording by inclusive CPU samples, per thread group.

    tools/jfr_top.py <recording.jfr> [--thread main|executor] [--top N]

Runs `jfr print --json --events jdk.ExecutionSample` on the recording and
prints, for each thread group, its sample count and the N frames with the
most samples that contain them anywhere on the stack (inclusive counts; a
frame that recurses is counted once per sample). `--top 0` prints every
frame. Thread groups: `main` (the JVM's main thread), `executor` (Spark's
"Executor task launch worker" threads) and `other`.

JFR keeps the 64 leaf-most frames of a stack by default, so a frame far
from the leaf is missed in samples whose stack was cut; each group reports
how many were. A deeper -XX:FlightRecorderOptions:stackdepth keeps whole
stacks, but on a cold curation run it also recorded fewer samples (25
instead of 68-85 under one static initializer), so keep the default when
the frame sought sits near the leaf.

A one-time per-JVM cost, such as a static initializer that every task
waits on, is a few seconds inside one request and invisible in per-request
wall times; here it is one frame near the top of the table, for example

    tools/jfr_top.py cold.jfr --thread executor --top 40 | grep '<clinit>'

Standard library only. Needs the JDK's `jfr` on PATH.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

GROUPS = ("main", "executor", "other")


def jfr_binary():
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_top: no `jfr` on PATH (it ships in the JDK's bin directory)")
    return found


def thread_group(name):
    if name == "main":
        return "main"
    if name.startswith("Executor task launch worker"):
        return "executor"
    return "other"


def frame_name(frame):
    method = frame["method"]
    return f"{method['type']['name'].replace('/', '.')}.{method['name']}"


def load_samples(recording):
    """[(thread group, [frame names, leaf first], truncated)] of every execution sample."""
    p = subprocess.run([jfr_binary(), "print", "--json", "--events", "jdk.ExecutionSample",
                        recording], stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"jfr_top: jfr print failed: {p.stderr.strip()}")
    samples = []
    for event in json.loads(p.stdout)["recording"]["events"]:
        values = event["values"]
        thread = values.get("sampledThread") or {}
        name = thread.get("javaName") or thread.get("osName") or ""
        stack = values.get("stackTrace") or {}
        frames = [frame_name(f) for f in stack.get("frames") or []]
        samples.append((thread_group(name), frames, bool(stack.get("truncated"))))
    return samples


def inclusive_counts(samples):
    """{group: (samples, truncated samples, Counter of frame -> samples containing it)}."""
    out = {}
    for group, frames, truncated in samples:
        n, cut, counts = out.get(group, (0, 0, collections.Counter()))
        counts.update(set(frames))
        out[group] = (n + 1, cut + truncated, counts)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording", help="a .jfr file")
    ap.add_argument("--thread", choices=GROUPS[:2], help="print only this thread group")
    ap.add_argument("--top", type=int, default=25, help="frames per group (0 = all)")
    args = ap.parse_args(argv)
    if not os.path.isfile(args.recording):
        sys.exit(f"jfr_top: no such file: {args.recording}")
    samples = load_samples(args.recording)
    groups = inclusive_counts(samples)
    print(f"{len(samples)} samples in {args.recording}")
    for group in GROUPS:
        if args.thread and group != args.thread:
            continue
        n, cut, counts = groups.get(group, (0, 0, collections.Counter()))
        print(f"\n[{group}] {n} samples, {cut} with truncated stacks")
        ranked = counts.most_common(args.top or None)
        for frame, c in ranked:
            print(f"{c:8d} {100.0 * c / n:6.1f}%  {frame}")


if __name__ == "__main__":
    main()
