#!/usr/bin/env python3
"""Benchmark command: one seeded run of one workload.

    python3 perfbench/run.py --workload ingest|search|es_surface|selftest \
        --seed N --seconds S --trace 0|1 [--sf-dir DIR] [--keep-spans FILE]

Builds the engine and the harness from source (perfbench/build.py), sizes
the JVM from the host, runs one workload in a fresh JVM under a per-run temp
root that is removed afterwards, checks the answers, and prints one report
line per metric (value, unit, sample count), then a JSON result as the last
line: with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

REPO = build.REPO
# a run of a BENCHMARK.json workload ends within 180 s; a full es_surface
# catalogue pass takes minutes
JVM_TIMEOUT_S = {"es_surface": 3600}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 4.0


def jvm_sizes(cores: int):
    """Heap as the tier-1 command derives SPARK_DRIVER_MEM (half of RAM,
    clamped to 2..8 GiB, overridable by SPARK_DRIVER_MEM); off-heap
    execution memory 1 GiB per core, capped at a quarter of RAM."""
    mem = mem_total_gib()
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{min(8, max(2, int(mem / 2)))}g"
    offheap_mb = int(min(cores * 1024, mem * 1024 / 4))
    return heap, offheap_mb


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def oracle_check(rows_dir: Path, sf_dir: str):
    """Compare each written es_surface row with its DuckDB twin using
    tools/check_oracle.py's normalisation and value rules. Returns the
    names of failing rows with a reason."""
    spec = importlib.util.spec_from_file_location("check_oracle", REPO / "tools" / "check_oracle.py")
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        files = p / "*.parquet" if p.is_dir() else p
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{files}')")
    failures = []
    for name, sql in sorted(json.loads((rows_dir / "oracle_sql.json").read_text()).items()):
        try:
            want = con.sql(sql)
            wrows, wcols = co.norm(want.fetchall(), want.columns)
            got = con.sql(f"SELECT * FROM read_parquet('{rows_dir / name}/*.parquet')")
            grows, gcols = co.norm(got.fetchall(), got.columns)
        except Exception as e:  # an oracle or read error fails the row, never skips it
            failures.append((name, str(e).splitlines()[0][:200]))
            continue
        if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
            failures.append((name, f"columns differ: {gcols} vs {wcols}"))
        elif len(grows) != len(wrows):
            failures.append((name, f"{len(grows)} rows, oracle {len(wrows)}"))
        elif not all(all(co.eq(a, b) for a, b in zip(g, w)) for g, w in zip(grows, wrows)):
            failures.append((name, "values differ"))
    return failures


def wanted_metrics(workload: str, trace: bool):
    """The metric names the last line carries: BENCHMARK.json's list for the
    workloads it names, else every metric of the run's kind (None)."""
    spec = REPO / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    if workload not in {w["name"] for w in b["workloads"]}:
        return None
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["ingest", "search", "es_surface", "selftest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", help="table directory for es_surface")
    ap.add_argument("--max-rows", type=int, help="es_surface: run only the first N catalogue rows")
    ap.add_argument("--docs", type=int, help="corpus size (default 20000)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one answer before checking it")
    ap.add_argument("--compact", action="store_true", help="ingest: compact the deltas and check the result")
    ap.add_argument("--keep-spans", help="copy the traced run's spans (JSON lines) here")
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    cores = host_cores()
    heap, offheap_mb = jvm_sizes(cores)
    runs = build.build_dir() / "runs"
    root = runs / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    try:
        # a fixed-size heap with fixed generations: GC ergonomics that grow
        # the heap on their own make peak RSS differ run to run
        # -UsePerfData: no hsperfdata file in the system temp directory
        cmd = ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
               "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={root / 'tmp'}",
               f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main", a.workload]
        if a.workload != "selftest":
            cmd += ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--root", str(root), "--result", str(root / "result.json"),
                    "--cores", str(cores), "--offheap-mb", str(offheap_mb)]
            for flag, v in [("sf-dir", a.sf_dir), ("max-rows", a.max_rows), ("docs", a.docs)]:
                if v is not None:
                    cmd += [f"--{flag}", str(v)]
            for flag in ["corrupt", "compact"]:
                if getattr(a, flag):
                    cmd += [f"--{flag}", "1"]
        ticks0 = cpu_ticks()
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=root,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S.get(a.workload, 170))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("run: JVM timed out", file=sys.stderr)
            return 3
        ticks1 = cpu_ticks()
        if code != 0:
            print(f"run: JVM exited with {code}", file=sys.stderr)
            return code
        if a.workload == "selftest":
            print("selftest ok")
            return 0
        res = json.loads((root / "result.json").read_text())
        if (root / "rows" / "oracle_sql.json").is_file():
            # es_surface, or the catalogue sample of a traced run over its
            # generated tables
            for name, why in oracle_check(root / "rows", a.sf_dir or root / "tables"):
                res["failed"] += 1
                res["wrong"] += 1
                res["notes"].append(f"wrong answer: catalogue row {name}: {why}")
        if a.keep_spans and (root / "spans.jsonl").is_file():
            shutil.copyfile(root / "spans.jsonl", a.keep_spans)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    metrics = res["metrics"]
    attempted, failed = res["attempted"], res["failed"]
    for name, m in metrics.items():
        kind = "end-to-end" if m["end_to_end"] else "layer"
        print(f"{a.workload} {kind} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    print(f"{a.workload} end-to-end error_rate = {failed / max(1, attempted):.6g} ratio (n={attempted})")
    steal = 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(f"{a.workload} host: {cores} cores, JVM heap {heap}, off-heap {offheap_mb} MB, "
          f"CPU steal {steal:.1f}% during the run")
    for n in res["notes"]:
        print(f"{a.workload} note: {n}")
    print(f"{a.workload} correctness: {'PASS' if failed == 0 else 'FAIL'} "
          f"({res['wrong']} wrong answers, {failed - res['wrong']} errors, {attempted} operations)")

    names = wanted_metrics(a.workload, bool(a.trace))
    if names is None:
        names = {k: m["unit"] for k, m in metrics.items() if m["end_to_end"] != bool(a.trace)}
    out = {}
    for n, unit in names.items():
        m = metrics.get(n)
        if m is None or m["value"] is None:
            if not a.trace:
                print(f"run: end-to-end metric {n} was not measured", file=sys.stderr)
                return 4
            m = {"value": 0.0, "unit": unit}  # a layer this workload does not use
        out[n] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
