"""Session lifecycle, seeded input sampling, CPU/memory and sink probes,
and the DuckDB-side output checks shared by the workloads.

Everything the benchmark writes lives under ``perfbench/.work``, inside
the checkout, and is removed when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
POOL = os.path.join(HERE, "data", "transcripts_pool.parquet")
CURATION_EXPECTED = os.path.join(HERE, "data", "curation_expected.json")
# bump when the pool or the sampling changes; printed with the input properties
GEN_VERSION = 1
INPUT_FILES = 4  # one scan split per file: fixed, so the input bytes do not depend on the machine
CORES = len(os.sched_getaffinity(0))


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# -- session ------------------------------------------------------------------


def fresh_work() -> None:
    """Empty the scratch directory and point every temporary file of this
    process and its JVMs (the spark-submit launcher too) into it."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(trace: bool):
    """Fresh JVM + SparkSession at local[CORES]; returns (spark, seconds)."""
    from sherlog_parser_spark.session import get_spark

    t0 = time.perf_counter()
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # session is ready once a job has run
    return spark, time.perf_counter() - t0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User + system CPU seconds used so far by this process and all its
    descendants (the JVM and its Python workers), including reaped ones.
    Unlike wall time it excludes time the host steals from the vCPUs."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process exited while we listed
                continue
            # fields[1] = ppid, [11:15] = utime stime cutime cstime
            stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (pp, _) in stats.items() if pp in frontier and p not in tree}
    return sum(stats[p][1] for p in tree if p in stats) / _TICK


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- seeded inputs ------------------------------------------------------------


@dataclass
class Input:
    path: str
    meta: dict


def sample_input(seed: int, n_convs: int) -> Input:
    """Pick ``n_convs`` whole conversations from the committed pool, ranked
    by a hash of (seed, conv_id), and write them as INPUT_FILES parquet
    files split by conversation.  The same seed gives the same input."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pool = pq.read_table(POOL)
    convs = sorted(set(pool.column("conv_id").to_pylist()))
    rank = lambda c: hashlib.blake2b(f"{seed}:{c}".encode(), digest_size=8).digest()  # noqa: E731
    chosen = sorted(sorted(convs, key=rank)[:n_convs])
    table = pool.filter(pc.is_in(pool["conv_id"], pa.array(chosen)))
    # pyarrow reads the pool's INT96 timestamps as nanoseconds, which Spark
    # cannot read back; store UTC microseconds, as Spark itself writes them
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", pc.cast(table["ts"], pa.timestamp("us", tz="UTC")))
    table = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    path = os.path.join(WORK, "input", "transcripts")
    os.makedirs(path)
    for i in range(INPUT_FILES):
        part = chosen[i::INPUT_FILES]
        pq.write_table(table.filter(pc.is_in(table["conv_id"], pa.array(part))), os.path.join(path, f"part-{i}.parquet"))
    meta = describe_input(path)
    meta.update(gen_version=GEN_VERSION, pool_convs=len(convs))
    return Input(path, meta)


def parquet_bytes(path: str) -> tuple[int, int, int]:
    """(bytes, files, leaf dirs) of the parquet files under ``path``."""
    size = files = 0
    dirs = set()
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
                dirs.add(d)
    return size, files, len(dirs)


# -- DuckDB checks ------------------------------------------------------------


def duck():
    import duckdb

    con = duckdb.connect(config={"threads": CORES, "temp_directory": os.path.join(WORK, "duck")})
    con.execute("SET enable_progress_bar = false")
    return con


_FP = "count(*) AS n, bit_xor(hash(conv_id::VARCHAR, turn_idx::BIGINT)) AS fp"


def describe_input(path: str) -> dict:
    con = duck()
    n, fp, text_bytes = con.execute(
        f"SELECT {_FP}, avg(strlen(text)) FROM read_parquet('{path}/*.parquet')"
    ).fetchone()
    con.close()
    return {
        "turns": int(n),
        "fp": int(fp),
        "input_bytes": parquet_bytes(path)[0],
        "mean_text_bytes": float(text_bytes),
    }


def sink_fingerprint(con, routed_dir: str) -> tuple[int, int, dict[int, int]]:
    """(rows, row-set fingerprint, per-template row counts) of the routed
    sink, read back independently of Spark."""
    rows = con.execute(
        f"SELECT template_id, {_FP} FROM read_parquet('{routed_dir}/*/*/*/*.parquet',"
        " hive_partitioning = true) GROUP BY template_id"
    ).fetchall()
    fp = 0
    for r in rows:
        fp ^= int(r[2])
    return sum(int(r[1]) for r in rows), fp, {int(r[0]): int(r[1]) for r in rows}
