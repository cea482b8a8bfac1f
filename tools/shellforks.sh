#!/usr/bin/env bash
# Count the shell commands Hadoop's `Shell` forks, per gate.
#
# Without the native Hadoop library, the local filesystem forks a
# process for permission and link work: `ls -ld` to load a file's
# permissions, `chmod` after a create or mkdir, `readlink` for a link
# status, `stat` where enabled. This script puts logging wrappers for
# those four commands first on PATH, runs graft.Bench on a gate subset
# (one untimed warm-up execution per gate, then two timed ones), and
# attributes every logged fork to the gate whose execution window it
# falls in, using Bench's stderr end markers.
#
# usage: tools/shellforks.sh <sf-dir> <gate[,gate...]> [out-dir]
#   e.g. tools/shellforks.sh testdata/sf0.1 q91_stateful_stream,q122_schema_evolution
#
# Needs compiled classes (`sbt compile` -> target/scala-2.13/classes) and
# Spark's jars (SPARK_JARS, default $SPARK_HOME/jars, SPARK_HOME defaulting
# to the installation of the spark-submit on PATH). Prints one line per
# gate: forks in the warm-up execution and in each timed execution, and
# the timed-execution forks split by command. The raw fork log and
# Bench's stderr stay in <out-dir> (default: a fresh temp dir). The run
# gets its own java.io.tmpdir and artifact root under <out-dir>, so the
# first (warm-up) execution of an artifact gate is a cold build.
set -euo pipefail

sf=${1:?usage: shellforks.sh <sf-dir> <gate[,gate...]> [out-dir]}
gates=${2:?usage: shellforks.sh <sf-dir> <gate[,gate...]> [out-dir]}
out=${3:-$(mktemp -d -t shellforks.XXXXXX)}
repo=$(cd "$(dirname "$0")/.." && pwd)
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars=${SPARK_JARS:-$spark_home/jars}
sf=$(cd "$sf" && pwd)
mkdir -p "$out/bin" "$out/tmp"
out=$(cd "$out" && pwd)
log="$out/forks.log"
: > "$log"

for cmd in chmod readlink ls stat; do
  real=$(command -v "$cmd")
  cat > "$out/bin/$cmd" <<EOF
#!/usr/bin/env bash
t=\${EPOCHREALTIME/./}
echo "\${t:0:-3} $cmd \$*" >> "$log"
exec $real "\$@"
EOF
  chmod +x "$out/bin/$cmd"
done

PATH="$out/bin:$PATH" \
SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_ONLY="$gates" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" \
GRAFT_ARTIFACT_ROOT="$out/tmp" \
  java -Xmx2g -Djava.io.tmpdir="$out/tmp" -Dspark.local.dir="$out/tmp" \
    -cp "$repo/target/scala-2.13/classes:$jars/*" graft.Bench \
    > "$out/bench.out" 2> "$out/bench.err"

python3 - "$log" "$out/bench.err" <<'EOF'
import collections, re, sys
forks = []
for line in open(sys.argv[1]):
    ms, cmd = line.split()[:2]
    forks.append((int(ms), cmd))
# end markers in execution order: (ms, gate, phase)
marks = []
for line in open(sys.argv[2]):
    m = re.match(r"\[bench\] ([wt]) (\d+) (\S+)", line)
    if m:
        marks.append((int(m.group(2)), m.group(3), m.group(1)))
runs = collections.defaultdict(list)  # gate -> [(phase, Counter)]
lo = 0
for hi, gate, phase in marks:
    runs[gate].append((phase, collections.Counter(
        c for t, c in forks if lo < t <= hi)))
    lo = hi
print(f"{'gate':34s} {'warm-up':>7s} {'timed':>11s}  timed by command")
for gate, rs in runs.items():
    cold = [sum(c.values()) for p, c in rs if p == "w"]
    timed = [c for p, c in rs if p == "t"]
    by = sum(timed, collections.Counter())
    print(f"{gate:34s} {sum(cold):7d} "
          f"{'/'.join(str(sum(c.values())) for c in timed):>11s}  "
          + " ".join(f"{k}={v}" for k, v in sorted(by.items())))
print(f"total forks {len(forks)} (log {sys.argv[1]})")
EOF
