#!/usr/bin/env bash
# Package octospark and run a job via spark-submit --py-files — the
# production submission surface (north_star: three DataFrame stages
# submitted via spark-submit --py-files).
#
#   scripts/submit.sh jobs/extract.py --sf-dir /root/testdata/sf0.001 \
#       --out /tmp/out
#
# Env: SPARK_SUBMIT_MASTER (default local[32]).
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="$(mktemp -u /tmp/octospark_pyfiles_XXXX.zip)"
python - "$REPO" "$ZIP" <<'EOF'
import pathlib, sys, zipfile
root, dest = pathlib.Path(sys.argv[1]), sys.argv[2]
with zipfile.ZipFile(dest, "w") as z:
    # the C sources too: a worker that imports octospark from the zip
    # builds its extensions from them (octospark.native)
    pkg = root / "octospark"
    for f in sorted([*pkg.rglob("*.py"), *pkg.rglob("*.c")]):
        z.write(f, f.relative_to(root))
EOF
JOB="$1"; shift
exec spark-submit --master "${SPARK_SUBMIT_MASTER:-local[32]}" \
    --py-files "$ZIP" "$REPO/$JOB" "$@"
