#!/usr/bin/env python3
"""Per-stage summary of a JDK Flight Recorder profile of the document kernel.

Reads the jdk.ExecutionSample events of a .jfr file (through the JDK's
`jfr` tool) and prints:
  - the executor-thread split: every sample of a Spark task thread
    ("Executor task launch worker ...") in one category by its stack —
    extract, kernel, scan, parquet write, shuffle, task deserialization or
    other — so the kernel's share of task CPU is read directly;
then, over the samples that run program code:
  - the top self frames;
  - the inclusive share of each kernel stage (a sample counts for a stage
    when the stage's method is on its stack);
  - per stage, its top self frames and its innermost program frames
    (method:line).

Usage: python3 tools/jfr_stages.py <recording.jfr> [top-n]

A recording of the traced kg_batch benchmark run is taken with
  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/kg.jfr,settings=profile" \\
    python3 perfbench/run.py --workload kg_batch --seed 5 --seconds 12 --trace 1
"""
import collections
import re
import subprocess
import sys

# (stage, method whose frames mark it[, method whose frames exclude it]);
# matched on the whole method name
STAGES = [
    ("extract", "graft.text.Extract$.htmlToText"),
    ("tokenize", "graft.text.Tokenizer$.tokenize"),
    ("sentences", "graft.text.Sentences$.split"),
    ("aa", "graft.aa.AaDetector$.findAaRecords"),
    ("chunk", "graft.link.PhraseChunker$.chunk"),
    ("gather", "graft.link.VariantGather$.gather"),
    ("evaluate", "graft.link.Evaluator$.evaluatePhrase"),
    ("map", "graft.link.Evaluator$.bestMappings"),
    ("negex", "graft.negex.Negex$.markWithRecords"),
    ("mention rows", "graft.pipeline.DocKernel$.mentions", "graft.pipeline.DocKernel$.analyze"),
    ("lexcat", "graft.pipeline.DocKernel$.mentionLexCat"),
    ("wsdLocal", "graft.pipeline.DocTriples$.wsdLocal"),
    ("pairs", "graft.pipeline.DocTriples$.forEachPair"),
    ("pairsLocal", "graft.pipeline.DocTriples$.pairsLocal"),
]

# executor-thread categories, first match wins; (name, frame prefixes)
EXECUTOR = [
    ("extract", ["graft.text.Extract$"]),
    ("kernel", ["graft.pipeline.DocKernel$", "graft.pipeline.DocTriples$"]),
    ("scan", ["org.apache.spark.sql.execution.datasources.FileScanRDD",
              "org.apache.spark.sql.execution.datasources.parquet.Vectorized",
              "org.apache.parquet.hadoop.ParquetFileReader",
              "org.apache.parquet.column.impl.ColumnReader"]),
    ("parquet write", ["org.apache.parquet.hadoop.InternalParquetRecordWriter",
                       "org.apache.parquet.hadoop.ParquetRecordWriter",
                       "org.apache.parquet.column.",
                       "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter",
                       "org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport",
                       "org.apache.spark.sql.execution.datasources.FileFormatDataWriter",
                       "org.apache.spark.sql.execution.datasources.FileFormatWriter",
                       "org.apache.spark.internal.io.SparkHadoopWriter"]),
    ("shuffle", ["org.apache.spark.shuffle.", "org.apache.spark.storage.ShuffleBlockFetcher",
                 "org.apache.spark.util.collection.ExternalSorter"]),
    ("task deserialization", ["org.apache.spark.serializer.JavaDeserializationStream",
                              "org.apache.spark.serializer.JavaSerializerInstance.deserialize",
                              "org.apache.spark.broadcast.TorrentBroadcast"]),
]

FRAME = re.compile(r"^([\w$.<>]+)\(.*\)\s+line:\s*(-?\d+)")
THREAD = re.compile(r'^sampledThread = "([^"]*)"')


def all_samples(path):
    """(thread name, stack) of every execution sample, innermost frame first."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "128", path],
                         capture_output=True, text=True, check=True).stdout
    samples, cur = [], None
    for ln in out.splitlines():
        s = ln.strip()
        if s.startswith("jdk.ExecutionSample"):
            cur = []
            samples.append(["", cur])
        elif cur is not None:
            t = THREAD.match(s)
            if t:
                samples[-1][0] = t.group(1)
                continue
            m = FRAME.match(s)
            if m:
                cur.append((m.group(1), m.group(2)))
    return samples


def executor_split(samples):
    """Category -> sample count over the Spark task threads."""
    split = collections.Counter()
    for thread, stack in samples:
        if not thread.startswith("Executor task launch worker"):
            continue
        cat = next((name for name, prefixes in EXECUTOR
                    if any(f[0].startswith(p) for f in stack for p in prefixes)), "other")
        split[cat] += 1
    return split


def on_stack(stack, method):
    # lambdas compiled from a method body carry its name with a suffix
    return any(f[0] == method or f[0].startswith(method + "$") for f in stack)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    top = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    everything = all_samples(sys.argv[1])
    split = executor_split(everything)
    n_exec = sum(split.values())
    if n_exec:
        print(f"executor-thread samples: {n_exec}")
        for name in [e[0] for e in EXECUTOR] + ["other"]:
            print(f"{100.0 * split[name] / n_exec:5.1f}%  {name}")
        print()
    stacks = [s for _, s in everything if any(f[0].startswith("graft.") for f in s)]
    total = len(stacks)
    if total == 0:
        sys.exit("no samples in program code")
    pct = lambda n: f"{100.0 * n / total:5.1f}%"
    print(f"samples in program code: {total}")
    print("\n== top self frames")
    for k, v in collections.Counter(s[0][0] for s in stacks).most_common(top):
        print(f"{pct(v)}  {k}")
    print("\n== inclusive share per stage")
    per = {st[0]: [s for s in stacks if on_stack(s, st[1]) and
                   not (len(st) > 2 and on_stack(s, st[2]))] for st in STAGES}
    names = [st[0] for st in STAGES]
    for name in names:
        print(f"{pct(len(per[name]))}  {name}")
    for name in names:
        sub = per[name]
        if not sub:
            continue
        print(f"\n== {name} ({pct(len(sub)).strip()})")
        print("  self:")
        for k, v in collections.Counter(s[0][0] for s in sub).most_common(6):
            print(f"  {pct(v)}  {k}")
        inner = collections.Counter(
            next(f"{f[0]}:{f[1]}" for f in s if f[0].startswith("graft.")) for s in sub)
        print("  innermost program frame:")
        for k, v in inner.most_common(6):
            print(f"  {pct(v)}  {k}")


if __name__ == "__main__":
    main()
