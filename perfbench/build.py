#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark harness (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in $SPARK_HOME/jars.

A stamp over every source file's bytes skips the compile when nothing
changed. Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import subprocess
import sys

BUILD = '.bench_build'
CLASSES = os.path.join(BUILD, 'classes')
STAMP = os.path.join(BUILD, 'classes.stamp')


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home or not os.path.isdir(os.path.join(home, 'jars')):
        sys.exit('perfbench: SPARK_HOME must point at a Spark 4 distribution')
    return sorted(glob.glob(os.path.join(home, 'jars', '*.jar')))


def sources():
    srcs = sorted(glob.glob('src/main/scala/**/*.scala', recursive=True))
    srcs += sorted(glob.glob('perfbench/src/*.scala'))
    if not any(s.startswith('src/main/') for s in srcs):
        sys.exit('perfbench: no library sources under src/main/scala '
                 '(run from the repository root)')
    return srcs


def classpath():
    return os.pathsep.join([os.path.abspath(CLASSES)] + spark_jars())


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, 'rb') as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(' '.join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(CLASSES, exist_ok=True)
    for root, _, files in os.walk(CLASSES):
        for f in files:
            os.remove(os.path.join(root, f))
    scala = [j for j in jars if os.path.basename(j).startswith(
        ('scala-library-', 'scala-compiler-', 'scala-reflect-'))]
    cmd = ['java', '-Xmx2g', '-Xss8m', '-cp', os.pathsep.join(scala),
           'scala.tools.nsc.Main', '-nowarn', '-deprecation:false',
           '-cp', os.pathsep.join(jars), '-d', CLASSES] + srcs
    r = subprocess.run(cmd)
    if r.returncode != 0:
        sys.exit('perfbench: compile failed')
    with open(STAMP, 'w') as f:
        f.write(stamp)


if __name__ == '__main__':
    build()
