#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution ($SPARK_HOME/jars, the jars build.sbt compiles
against), into .bench_build/classes-<hash of the sources>.

A build whose sources are unchanged is reused. Run it alone with
`python3 perfbench/build.py`; run.py calls it before every run.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, '.bench_build')


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home or not os.path.isdir(os.path.join(home, 'jars')):
        sys.exit('build: SPARK_HOME must name a Spark distribution')
    return sorted(glob.glob(os.path.join(home, 'jars', '*.jar')))


def sources():
    engine = os.path.join(ROOT, 'src', 'main', 'scala')
    if not os.path.isdir(engine):
        sys.exit('build: no engine sources under src/main/scala')
    files = []
    for top in (engine, os.path.join(BENCH_DIR, 'src')):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith('.scala')]
    return sorted(files)


def build():
    """Returns the classpath (classes dir + Spark jars) of a fresh build."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, 'classes-' + h.hexdigest()[:16])
    cp = [out] + jars
    if os.path.exists(os.path.join(out, 'BUILT')):
        return cp
    for old in glob.glob(os.path.join(BUILD_DIR, 'classes-*')):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, 'sources.txt')
    with open(argfile, 'w') as fh:
        fh.write('\n'.join(srcs) + '\n')
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ('scala-compiler-', 'scala-library-', 'scala-reflect-'))]
    if len(compiler) != 3:
        sys.exit('build: the Spark distribution has no Scala compiler')
    rc = subprocess.call(
        ['java', '-Xss8m', '-Xmx2g', '-XX:-UsePerfData', '-cp', os.pathsep.join(compiler),
         'scala.tools.nsc.Main', '-nowarn', '-classpath', os.pathsep.join(jars),
         '-d', out, '@' + argfile],
        stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f'build: scalac exited {rc}')
    open(os.path.join(out, 'BUILT'), 'w').close()
    return cp


if __name__ == '__main__':
    build()
