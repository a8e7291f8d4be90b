#!/usr/bin/env python3
"""Build reference/analytics.tsv from a calibration run and its self-check.

  1. Run the benchmark JVM in calibration mode on the analytics dataset
     (graft.perfbench.Main --calibrate 1 --data <dataset>/analytics
      --work <dir> --out <out> --cores 4). It materializes every query of
     the calibration set once (collect, timed), writes each result as parquet
     plus oracle_sql.json, and records name, family, seconds and digest in
     <out>/calibration.tsv.
  2. python3 tools/selfcheck.py <dataset>/analytics <out> > selfcheck.txt
     compares every result with DuckDB running the query's oracle SQL.
  3. python3 perfbench/make_reference.py <out>/calibration.tsv selfcheck.txt

A query's status is `ok` when DuckDB agrees on row count and values,
`rows-only` when it has no oracle SQL, `error` when the calibration run
threw, else `mismatch` (DuckDB disagrees or could not run the oracle). Every
calibrated query is written, whatever its status: a drawn query that is not
`ok` or `rows-only` counts as failed.

Only queries that took at most MAX_SAMPLED_S at calibration are drawn into
the random part of the sample (the targets always run); the rest get band -1.
A draw then cannot swing a run's total, and the run fits its time budget;
the 14 targets, 13 of them slower than that, cover the heavy end. This also
keeps out the SCC-store consumers, whose calibration time includes building
that store. Time bands are the quartiles of the calibration seconds of the
drawable queries.
"""
import os
import statistics
import sys

MAX_SAMPLED_S = 1.0
TARGETS = ("q207", "q166", "q415", "q489", "q26", "q254", "q404", "q191",
           "q186", "q231", "q213", "q418", "q522", "q383")


def main(calibration, selfcheck):
    status = {}
    with open(selfcheck) as fh:
        for line in fh:
            parts = line.split(None, 1)
            if len(parts) == 2 and parts[0].startswith("q"):
                v = parts[1].strip()
                status[parts[0]] = ("ok" if v.startswith("OK") else
                                    "rows-only" if v.startswith("rows-only") else
                                    "mismatch")
    rows = []
    with open(calibration) as fh:
        for line in fh:
            name, family, secs, state, digest = line.rstrip("\n").split("\t")
            st = status.get(name, "mismatch") if state == "ok" else "error"
            rows.append((name, family, float(secs), st, digest))
    is_target = lambda n: n.split("_")[0] in TARGETS
    drawable = lambda r: not is_target(r[0]) and r[2] <= MAX_SAMPLED_S
    cuts = statistics.quantiles([r[2] for r in rows if drawable(r)], n=4)
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "reference", "analytics.tsv")
    with open(out, "w") as fh:
        fh.write("# name\tfamily\tband\tstatus\tdigest\tcalibration_s\n")
        for r in rows:
            name, family, secs, st, digest = r
            band = sum(secs > c for c in cuts) if is_target(name) or drawable(r) else -1
            fh.write(f"{name}\t{family}\t{band}\t{st}\t{digest}\t{secs:.4f}\n")
    bad = [r[0] for r in rows if r[3] not in ("ok", "rows-only")]
    print(f"{len(rows)} queries, {sum(map(drawable, rows))} drawable, bands cut at "
          f"{[round(c, 3) for c in cuts]} s; not ok: {bad or 'none'}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
