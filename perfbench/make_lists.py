#!/usr/bin/env python3
"""Write the committed registry workload lists from Census outputs.

Usage: python3 perfbench/make_lists.py <census.tsv> <census.tsv> ...

Census (graft.perfbench.Census) measures every registered query once, on a
warm pass over the benchmark data, and writes: name, construction seconds,
jobs launched during construction, action seconds, fingerprint, schema.
Run it in several processes, with different core counts, after a
benchmark run has built the classpath and written the JVM options, e.g.

    java -XX:ActiveProcessorCount=8 $(cat perfbench/target/perfbench.javaopts) \
      -cp "$(cat perfbench/target/perfbench.classpath)" \
      graft.perfbench.Census perfbench/data census_c8.tsv

then this script, with the local[4] census first:

- puts a query in registry_eager when it launched a Spark job while its
  DataFrame was built in the first census, and in registry_lazy otherwise;
- keeps an exact fingerprint check for a query whose fingerprint agreed in
  every census, and a row-count-and-schema check for one whose output did
  not reproduce;
- records the first census's seconds, which set the cost bands a run
  samples.

The lists are written once and committed; they are not recomputed, so a
change that makes an operator lazy does not move queries between workloads.
"""
import sys
import os

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "src", "main", "resources")

HEADER = """\
# {name}: {what}
# Written by make_lists.py from Census runs over the benchmark data (sf0.01)
# at several core counts; lazy/eager is the first census's (local[4]) count
# of jobs launched while each query's DataFrame was built. Not recomputed.
# name\tcensus_s\tlayer\tcheck\trows\tfingerprint\tschema
"""


def read(path):
    rows = {}
    for line in open(path):
        f = line.rstrip("\n").split("\t")
        if f[1] == "ERROR":
            raise SystemExit(f"{path}: {f[0]} failed: {f[2]}")
        name, cons, jobs, act, fp, schema = f
        rows[name] = (float(cons) + float(act), int(jobs), fp, schema)
    return rows


def main(paths):
    census = [read(p) for p in paths]
    first = census[0]
    assert all(c.keys() == first.keys() for c in census), \
        "the censuses cover different queries"
    lists = {"registry_lazy": [], "registry_eager": []}
    for name in sorted(first):
        cost, jobs, fp, schema = first[name]
        assert all(c[name][3] == schema for c in census), \
            f"{name}: schema differs between censuses"
        rows, _, digest = fp.partition(":")
        assert all(c[name][2].partition(":")[0] == rows for c in census), \
            f"{name}: row count differs between censuses"
        exact = all(c[name][2] == fp for c in census)
        layer = "streaming" if "streaming" in name else "pipeline"
        lists["registry_eager" if jobs > 0 else "registry_lazy"].append("\t".join([
            name, f"{cost:.3f}", layer, "exact" if exact else "shape",
            rows, digest if exact else "-", schema]))
    what = {
        "registry_lazy": "registered queries that launch no Spark job while built",
        "registry_eager": "registered queries that launch Spark jobs while built",
    }
    os.makedirs(OUT, exist_ok=True)
    for name, lines in lists.items():
        with open(os.path.join(OUT, f"{name}.tsv"), "w") as fh:
            fh.write(HEADER.format(name=name, what=what[name]))
            fh.write("\n".join(lines) + "\n")
        shape = sum(1 for l in lines if "\tshape\t" in l)
        print(f"{name}: {len(lines)} queries, {shape} checked by shape only")


if __name__ == "__main__":
    main(sys.argv[1:])
