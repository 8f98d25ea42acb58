#!/usr/bin/env bash
# Package the engine and submit the resumable extraction job of one face.
# Usage: scripts/submit_extraction.sh <input_pages_path> <output_path> [--face ocr|web] [spark-submit args...]
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
IN="$1"; OUT="$2"; shift 2
FACE=ocr
if [[ "${1:-}" == "--face" ]]; then FACE="$2"; shift 2; fi

PKG="$(mktemp -d)"
trap 'rm -rf "$PKG"' EXIT
ZIP="$PKG/servico_ocr_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" servico_ocr_spark)

spark-submit \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  "$@" \
  "$REPO/scripts/run_extraction.py" "$IN" "$OUT" --face "$FACE"
