#!/bin/sh
# Compiles the trace listeners against the Spark jars the program runs on.
# Usage: sh perfbench/tracer/build.sh <out-dir> <classpath>
set -e
here=$(dirname "$0")
mkdir -p "$1"
javac --release 17 -nowarn -cp "$2" -d "$1" "$here"/src/perfbench/*.java
