#!/usr/bin/env bash
# Compares two tools.PlanDump output directories after masking the ids
# that vary from run to run: `#N` expression ids, `plan_id=N`, RDD ids,
# Spark lambda variables `x_N` and lambda identities, whole-stage
# codegen ids and AQE query stage ids — and the source line of an RDD's
# call site (`localCheckpoint at Dedup.scala:981`), which moves with any
# edit above it. Prints each dump file that still differs (or exists on one
# side only) and exits 1 if there is any, 0 if none.
#
# usage: tools/plandiff.sh BEFORE_DIR AFTER_DIR
#
# Even masked, two dumps compare cleanly only from the same fixture
# state: a query whose fixture is built cold records that build's stage
# plans in its `_stages_` file, and a distinct aggregate's Expand column
# order can change between runs. Dump each side twice with warm
# fixtures, and count a file as changed only if it also differs from
# both runs of the other side while the two runs of its own side agree.
# A file named `<query>_<suffix>.txt` is compared with the same query's
# file on the other side whatever the suffix, so dumps made with
# different suffixes line up.
set -euo pipefail
if [ $# -ne 2 ] || [ ! -d "$1" ] || [ ! -d "$2" ]; then
  echo "usage: $0 BEFORE_DIR AFTER_DIR" >&2
  exit 2
fi

# query name of a dump file: its name without the trailing _<suffix>.txt
key() { basename "$1" | sed -E 's/_[^_]+\.txt$//'; }

mask() {
  sed -E \
    -e 's/#[0-9]+/#N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/RDD\[[0-9]+\]/RDD[N]/g' \
    -e 's/(\.scala):[0-9]+/\1:N/g' \
    -e 's/\b(lambda [a-z]+)_[0-9]+\b/\1_N/g' \
    -e 's/\b([a-z])_[0-9]+#N/\1_N#N/g' \
    -e 's/\$Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/$Lambda$N/g' \
    -e 's/\*\([0-9]+\)/*(N)/g' \
    -e 's/codegen id : [0-9]+/codegen id : N/g' \
    -e 's/WholeStageCodegen \([0-9]+\)/WholeStageCodegen (N)/g' \
    "$1" |
  # an AQE query stage's one argument is its run-order stage id
  awk '/^\([0-9]+\) [A-Za-z]*QueryStage$/ { stage = 1 }
       stage && /^Arguments: [0-9]+$/ { $0 = "Arguments: N"; stage = 0 }
       /^$/ { stage = 0 }
       { print }'
}

declare -A before after
for f in "$1"/*.txt; do [ -e "$f" ] && before[$(key "$f")]=$f; done
for f in "$2"/*.txt; do [ -e "$f" ] && after[$(key "$f")]=$f; done

differ=0
for k in $(printf '%s\n' "${!before[@]}" "${!after[@]}" | sort -u); do
  b=${before[$k]:-}
  a=${after[$k]:-}
  if [ -z "$b" ] || [ -z "$a" ]; then
    echo "only in ${b:+$1}${a:+$2}: $k"
    differ=1
  elif ! cmp -s <(mask "$b") <(mask "$a"); then
    echo "differs: $k"
    differ=1
  fi
done
exit $differ
