#!/usr/bin/env python3
"""One benchmark run of graft on one workload; the last stdout line is JSON.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload uts_analytics --seed 1 --seconds 10 --trace 0

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
`--full` runs every query of the workload instead of its timed set (one
pass takes minutes; meant for a whole-registry reading, not for the 180 s
run budget). perfbench/README.md describes the workloads and metrics.

The first run in a checkout builds the program and the harness with sbt
into $CARGO_TARGET_DIR (default .bench_build); later runs reuse that build
while the sources are unchanged. Each run gets a fresh temp root under
.bench_run/ that is deleted when the run ends; the full result and the
spans of traced runs stay in .bench_out/.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, 'harness')
BUILD = os.path.join(ROOT, os.environ.get('CARGO_TARGET_DIR', '.bench_build'))
# The sf0.1 corpus (TESTDATA.md): SPARK_GRAFT_SF_DIR as for graft.Bench, else
# the testdata directory in the home directory that also holds sbt's caches.
CORPUS = os.environ.get('SPARK_GRAFT_SF_DIR', os.path.expanduser('~/testdata/sf0.1'))
JVM_HEAP = '3g'
SETUPS = 3
JVM_TIMEOUT_S = 170
ORACLE_TIMEOUT_S = 120
# Same module openings as the root build's javaOptions (Spark 4 on JDK 17).
ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar',
]

E2E = [('setup_s', 's'), ('total_s', 's'), ('query_p50_s', 's'), ('query_p90_s', 's')]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f'perfbench: {msg}')
    sys.exit(2)


def quantile(values, q):
    """Linear-interpolated quantile, as the harness computes it."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def read(path):
    with open(path) as f:
        return f.read()


def du_mb(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total / 2**20


def spark_home():
    home = os.environ.get('SPARK_HOME')
    if not home and shutil.which('spark-submit'):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which('spark-submit'))))
    if not home or not os.path.isdir(os.path.join(home, 'jars')):
        fail('no Spark installation found: set SPARK_HOME')
    return home


def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, 'src', 'main'), HARNESS):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ('target', 'project'))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, 'rb') as fh:
                    h.update(fh.read())
    for f in ('build.sbt', os.path.join('project', 'build.properties')):
        with open(os.path.join(HARNESS, f), 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs `cmd` to completion; returns (exit code, peak RSS in MB). The
    child and its process group are killed if the timeout passes or this
    process is interrupted."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    deadline = time.monotonic() + timeout
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024
            if time.monotonic() > deadline:
                fail(f'timed out after {timeout} s: {" ".join(cmd[:3])} ...')
            time.sleep(0.05)
    finally:
        if p.returncode is None:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            p.returncode = -signal.SIGKILL


def java_cmd(classpath, *args, props=()):
    opens = [x for p in ADD_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
    return (['java', *opens, f'-Xms{JVM_HEAP}', f'-Xmx{JVM_HEAP}', *props, '-cp', classpath,
             'graftbench.Main', *args])


def build():
    """Builds program + harness once per source state; returns (classpath, hash)."""
    stamp = source_hash()
    cp_file = os.path.join(BUILD, 'classpath.txt')
    reg_file = os.path.join(BUILD, 'registry.json')
    stamp_file = os.path.join(BUILD, 'stamp')
    if os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return read(cp_file), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(BUILD, 'harness'),
               SPARK_HOME=spark_home(), COURSIER_MODE='offline')
    env.setdefault('SBT_OPTS', '-Xmx2g')
    log('perfbench: building program and harness with sbt ...')
    t0 = time.monotonic()
    sbt_log = os.path.join(BUILD, 'sbt.log')
    with open(sbt_log, 'w') as out:
        code, _ = run_child(['sbt', '--batch', '-Dsbt.log.noformat=true', '-Dsbt.server.forcestart=false',
                             'compile', 'export Runtime/fullClasspath'],
                            800, cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    lines = [x.strip() for x in read(sbt_log).splitlines() if x.strip()]
    if code != 0 or not lines or lines[-1].startswith('['):
        log(''.join(f'  {x}\n' for x in lines[-20:]))
        fail(f'build failed (exit {code}); log in {sbt_log}')
    classpath = lines[-1]
    code, _ = run_child(java_cmd(classpath, '--mode', 'registry', '--out', reg_file), 120)
    if code != 0:
        fail('could not list the query registry')
    with open(cp_file, 'w') as f:
        f.write(classpath)
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    log(f'perfbench: built in {time.monotonic() - t0:.0f} s')
    return classpath, stamp


def oracle_check(corpus, check_dir, oracle_sql, names, timeout):
    """Compares each query's check-pass output with its DuckDB oracle by
    running the repository's correctness compare, tools/vcheck.py, over the
    corpus the check pass read. Returns ({name: why} for every query that
    failed the compare or has no oracle SQL, rows the passing queries
    returned)."""
    with open(os.path.join(check_dir, 'oracle_sql.json'), 'w') as f:
        json.dump({q: oracle_sql[q] for q in names if q in oracle_sql}, f)
    report = os.path.join(check_dir, 'vcheck.txt')
    with open(report, 'w') as out:
        code, _ = run_child([sys.executable, os.path.join(ROOT, 'tools', 'vcheck.py'),
                             corpus, check_dir, ','.join(names)],
                            timeout, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    lines = read(report).splitlines()
    if code not in (0, 1) or not lines or not lines[-1].startswith('FAILED:'):
        log(''.join(f'  {x}\n' for x in lines[-20:]))
        fail(f'tools/vcheck.py exited with {code} without its verdict')
    verdict, last = {}, None
    for line in lines:
        name, sep, rest = line.partition(': ')
        if sep and name in names:
            if rest.startswith('(type check skipped'):
                continue
            last = name
            verdict[name] = rest
        elif line.startswith('  ') and last and not verdict[last].startswith('OK ('):
            verdict[last] += ' ' + line.strip()
    mismatches, rows_out = {}, 0
    for q in names:
        why = verdict.get(q, 'no oracle SQL' if q not in oracle_sql else 'not checked')
        if why.startswith('OK ('):
            rows_out += int(why[4:].split()[0])
        else:
            mismatches[q] = why
    return mismatches, rows_out


def membership_errors(spec, registry):
    """Pinned membership against the registry: every listed name exists, the
    workloads are disjoint, every timed query belongs to its workload, and a
    registry query outside all workloads is listed as unassigned."""
    errs, owner = [], {}
    for w, d in spec['workloads'].items():
        for q in d['queries']:
            if q not in registry:
                errs.append(f'{w}: {q} is not in SparkEntry.queries')
            if q in owner:
                errs.append(f'{q} is in both {owner[q]} and {w}')
            owner.setdefault(q, w)
        errs += [f'{w}: timed query {q} is not in its queries' for q in d['timed']
                 if q not in d['queries']]
    for q in spec['unassigned']:
        if q not in registry:
            errs.append(f'unassigned {q} is not in SparkEntry.queries')
        if q in owner:
            errs.append(f'unassigned {q} is also in {owner[q]}')
    errs += [f'{q} is in no workload and not listed as unassigned'
             for q in sorted(set(registry) - set(owner) - set(spec['unassigned']))]
    return errs


def load_spec():
    with open(os.path.join(HERE, 'workloads.json')) as f:
        return json.load(f)


def bench_spec():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def registry_names():
    with open(os.path.join(BUILD, 'registry.json')) as f:
        return json.load(f)['queries']


def per_query(execs, key=None):
    """{query: [value of each execution that did not throw]}; the value is
    `key` of the execution, or its whole wall (construction + action)."""
    out = {}
    for e in execs:
        if not e['error']:
            out.setdefault(e['query'], []).append(e[key] if key else e['construct_s'] + e['action_s'])
    return out


def sum_of_medians(execs, key=None):
    return sum(statistics.median(v) for v in per_query(execs, key).values())


def git_commit():
    try:
        return subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open('/proc/stat') as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def mem_total_kb():
    with open('/proc/meminfo') as f:
        for line in f:
            if line.startswith('MemTotal:'):
                return int(line.split()[1])
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--full', action='store_true')
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, 'src', 'main', 'scala', 'graft', 'SparkEntry.scala')):
        fail(f'no program sources under {ROOT}/src: run from the root of a graft checkout')
    if not os.path.isdir(CORPUS):
        fail(f'corpus {CORPUS} not found (set SPARK_GRAFT_SF_DIR)')
    spec = load_spec()
    if args.workload not in spec['workloads']:
        fail(f'unknown workload {args.workload}; one of {", ".join(spec["workloads"])}')
    classpath, stamp = build()
    errs = membership_errors(spec, registry_names())
    if errs:
        fail('workload membership is stale:\n  ' + '\n  '.join(errs))
    wl = spec['workloads'][args.workload]
    queries = wl['queries'] if args.full else wl['timed']
    setups = 1 if args.full else SETUPS
    cpus = len(os.sched_getaffinity(0))

    run_root = os.path.join(ROOT, '.bench_run', f'{args.workload}-{args.seed}-{os.getpid()}')
    work, bench = os.path.join(run_root, 'tmp'), os.path.join(run_root, 'bench')
    out_dir = os.path.join(ROOT, '.bench_out')
    tag = f'{args.workload}-seed{args.seed}-trace{args.trace}' + ('-full' if args.full else '')
    for d in (work, bench, out_dir):
        os.makedirs(d, exist_ok=True)
    result_file = os.path.join(bench, 'result.json')
    jvm_log = os.path.join(out_dir, f'{tag}.jvm.log')
    try:
        cmd = java_cmd(classpath, '--mode', 'run', '--workload', args.workload,
                       '--seed', str(args.seed), '--seconds', str(args.seconds),
                       '--trace', str(args.trace), '--cpus', str(cpus),
                       '--setups', str(setups), '--queries', ','.join(queries),
                       '--corpus', CORPUS, '--bench', bench, '--work', work,
                       '--out', result_file, '--spans', os.path.join(out_dir, f'{tag}.spans.json'),
                       props=[f'-Djava.io.tmpdir={work}'])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, 'spark-local'))
        ticks0 = cpu_ticks()
        with open(jvm_log, 'w') as jl:
            code, rss_mb = run_child(cmd, 3600 if args.full else JVM_TIMEOUT_S, env=env,
                                     stdout=jl, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        ticks1 = cpu_ticks()
        steal_frac = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        if code != 0 or not os.path.exists(result_file):
            with open(jvm_log) as jl:
                log(''.join(jl.readlines()[-30:]))
            fail(f'harness JVM exited with {code}; log in {jvm_log}')
        with open(result_file) as f:
            res = json.load(f)
        residue_mb = du_mb(work)
        t_check = time.monotonic()
        mismatches, rows_out = oracle_check(
            os.path.join(bench, f'corpus-{setups}'), os.path.join(bench, 'check'),
            res['oracle_sql'], queries, 1800 if args.full else ORACLE_TIMEOUT_S)
        oracle_check_s = time.monotonic() - t_check
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        if os.path.isdir(os.path.dirname(run_root)) and not os.listdir(os.path.dirname(run_root)):
            os.rmdir(os.path.dirname(run_root))

    execs = res['execs']
    walls = [w for v in per_query(execs).values() for w in v]
    ran = res['setup_execs'] + execs + res.get('traced_execs', [])
    exec_failures = sorted({e['query'] for e in ran if e['error']})
    mismatches = {q: res['check_errors'].get(q) or why for q, why in mismatches.items()}
    attempted = len(ran) + len(queries)
    failed = sum(1 for e in ran if e['error']) + len(mismatches)
    e2e = {
        'setup_s': statistics.median(res['setup_s']),
        'total_s': sum_of_medians(execs),
        'query_p50_s': quantile(walls, 0.5),
        'query_p90_s': quantile(walls, 0.9),
    }
    units = dict(E2E)
    if args.trace:
        layers = dict(res['layers'])
        traced_total = sum_of_medians(res['traced_execs'])
        layers.update({
            'entry.construct_s': sum_of_medians(execs, 'construct_s'),
            'exec.action_s': sum_of_medians(execs, 'action_s'),
            'exec.rows_read_per_row_out': layers['exec.rows_read'] / rows_out if rows_out else 0.0,
            'storage.residue_mb': residue_mb,
            'jvm.peak_rss_mb': rss_mb,
            'trace.total_s': traced_total,
            'trace.overhead': traced_total / e2e['total_s'] if e2e['total_s'] else 0.0,
        })
        units = {m['name']: m['unit'] for m in bench_spec()['per_layer']}
        metrics = {k: layers[k] for k in units}
    else:
        metrics = e2e

    provenance = {
        'nproc': cpus, 'mem_total_kb': mem_total_kb(), 'jdk': res['jdk'],
        'spark': res['spark_version'], 'sf': os.path.basename(os.path.normpath(CORPUS)),
        'corpus': CORPUS, 'seed': args.seed, 'git_commit': git_commit(), 'source_sha256': stamp,
        'jvm_heap': JVM_HEAP, 'setups': setups, 'steal_frac': steal_frac,
    }
    full = {
        'workload': args.workload, 'provenance': provenance, 'metrics': metrics,
        'e2e': e2e, 'failed_frac': failed / attempted, 'failing_queries': exec_failures,
        'oracle_mismatches': mismatches, 'oracle_check_s': oracle_check_s, 'peak_rss_mb': rss_mb,
        'passes': res['passes'], 'samples': len(walls),
        'query_medians_s': {q: statistics.median(v) for q, v in sorted(per_query(execs).items())},
        'executions': ran,
    }
    with open(os.path.join(out_dir, f'{tag}.json'), 'w') as f:
        json.dump(full, f, indent=1, sort_keys=True)

    log(f'perfbench {args.workload} seed={args.seed} trace={args.trace}: {len(queries)} queries, '
        f'{res["passes"]} timed passes, {len(walls)} timed executions, '
        f'oracle check {oracle_check_s:.1f} s; '
        f'nproc={cpus} sf={provenance["sf"]} spark={provenance["spark"]}')
    for k, v in metrics.items():
        log(f'  {k:34s} {v:14.4f} {units[k]}')
    log(f'  {"failed_frac":34s} {failed / attempted:14.4f} ({failed} of {attempted})')
    log(f'  {"peak_rss_mb":34s} {rss_mb:14.4f} MB (not gated)')
    for q in exec_failures:
        log(f'  FAILED   {q}')
    for q, why in sorted(mismatches.items()):
        log(f'  MISMATCH {q}: {why}')
    print(json.dumps({'workload': args.workload, 'provenance': provenance}))
    print(json.dumps({
        'correct': not mismatches and not exec_failures,
        'attempted': attempted,
        'failed': failed,
        'metrics': {k: {'value': v, 'unit': units[k]} for k, v in metrics.items()},
    }))


if __name__ == '__main__':
    # SIGTERM unwinds like Ctrl-C, so the JVM is killed and the temp root removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
