"""The benchmark's one command. Builds the engine, runs one workload in
a fresh JVM, checks its outputs, and prints a report followed by one
JSON line of metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 8 --trace 0

See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import fold  # noqa: E402

WORKLOADS = ["batch", "ingest_stream"]
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def benchmark_metrics():
    """(name, unit) of the end-to-end and of the per-layer metrics."""
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def source_version(root: Path, classes: Path) -> str:
    """The git commit, or outside git the digest of the built sources."""
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "sources:" + (classes / "BUILD_STAMP").read_text()[:16]


def run_jvm(classes: Path, build_dir: Path, args, out: Path) -> None:
    jars = build.spark_jars()
    tmp = build_dir / "tmp"
    work = build_dir / "work"
    tmp.mkdir(parents=True, exist_ok=True)
    work.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp / 'spark'}",
            f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
            f"-Dderby.system.home={tmp / 'derby'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.language=en", "-Duser.country=US",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(out), str(work)])
    with open(out / "jvm.log", "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                           cwd=build_dir, timeout=JVM_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write((out / "jvm.log").read_text()[-3000:])
        raise SystemExit(f"perfbench: {args.workload} run failed (exit {r.returncode})")


def check_inventory(out: Path, events) -> list:
    """Compares each inventory row's output with its DuckDB oracle over
    the same generated tables: row count and order-insensitive digest,
    columns sorted by name. Returns the names of rows that differ."""
    import duckdb
    import pandas as pd
    data = next(e["dir"] for e in events if e["e"] == "inventory_data")
    dumped = json.loads((out / "inventory_oracle.json").read_text())
    oracle = dumped["sql"]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    bad = []
    for name in dumped["rows"]:
        files = sorted((out / "inventory" / name).glob("*.parquet"))
        if not files:
            bad.append(name)
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        got = got.reindex(sorted(got.columns), axis=1)
        if name not in oracle:
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"oracle {name}: {e}", file=sys.stderr)
            bad.append(name)
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        same = (list(got.columns) == list(exp.columns) and
                fold.digest(got.itertuples(index=False)) == fold.digest(exp.itertuples(index=False)))
        if not same:
            print(f"oracle mismatch: {name}", file=sys.stderr)
            bad.append(name)
    return bad


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(args, classes, events, metrics, layers, details, overhead):
    env = next(e for e in events if e["e"] == "env")
    env_end = next((e for e in events if e["e"] == "env_end"), {})
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"master={env['master']} nproc={env['nproc']} spark={env['spark']} "
          f"scala={env['scala']} jdk={env['jdk']} commit={source_version(HERE.parent, classes)}")
    print(f"  load1 start={env['load_start']:.2f} end={env_end.get('load_end', float('nan')):.2f}"
          f"  ops={details['ops']} failed={details['failed']}"
          + (f"  bad checks={details['bad_checks']}" if details["bad_checks"] else ""))
    if "generator_lateness_s" in details:
        g = details["generator_lateness_s"]
        print(f"  generator lateness p50={g['p50']:.4f}s max={g['max']:.4f}s")
    t = details["op_tail"]
    print("  op tail: " + (f"p{t[0]} of n={t[2]} = {t[1]:.4f}s" if t else
                           f"n/a (n={details['ops']}, needs >= 20 ops)"))
    for name, (v, unit) in metrics.items():
        print(f"  {name:<18} {fmt(v):>12} {unit}")
    if args.trace:
        print(f"  tracing overhead (traced wall_s - untraced wall_s): "
              + ("n/a (no untraced run of this seed yet)" if overhead is None
                 else f"{overhead:.4f} s"))
        print(f"  {'layer':<14} " + " ".join(f"{c:>16}" for c, _ in fold.COUNTERS))
        for layer in fold.LAYERS:
            row = [layers[f"{layer}.{c}"] for c, _ in fold.COUNTERS]
            if any(row):
                print(f"  {layer:<14} " + " ".join(f"{fmt(x):>16}" for x in row))
        table = {f"{lay}.{c}" for lay in fold.LAYERS for c, _ in fold.COUNTERS}
        for k, v in layers.items():
            if v and k not in table:
                print(f"  {k:<34} {fmt(v)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    e2e, per_layer = benchmark_metrics()
    root = HERE.parent
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not build_dir.is_absolute():
        build_dir = root / build_dir
    classes = build.build(build_dir)
    out = build_dir / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    run_jvm(classes, build_dir, args, out)
    events = [json.loads(line) for line in (out / "events.jsonl").read_text().splitlines()]
    bad = check_inventory(out, events) if args.workload == "batch" else []
    metrics, layers, details = fold.fold(events, bad)
    cache = build_dir / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps({"wall_s": metrics["wall_s"][0]}))
    overhead = None
    untraced = build_dir / "results" / f"{args.workload}-s{args.seed}-t0.json"
    if args.trace and untraced.is_file():
        overhead = metrics["wall_s"][0] - json.loads(untraced.read_text())["wall_s"]
    report(args, classes, events, metrics, layers, details, overhead)
    chosen = e2e if args.trace == 0 else per_layer
    values = {**{k: v for k, (v, _) in metrics.items()}, **layers}
    result = {
        "correct": details["failed"] == 0,
        "attempted": details["ops"],
        "failed": details["failed"],
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in chosen},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
