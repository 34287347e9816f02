#!/usr/bin/env python3
"""MLlib-trainer geometry leg (VERDICT r19 #2): measure the IVF family
where the distributed-MLlib-KMeans trainer is the DEFAULT dispatch —
auto k = ceil(sqrt(n)) > 512 cells — instead of a forced conf on a
small fixture.

Derives a vectors-only 300k-embedding tier (auto k = ceil(sqrt(300000))
= 548 > 512 => `ivfTrainer` resolves to "mllib"; every priced fixture
stays on the bit-pinned sample trainer), runs the IVF build+serve
family through graft.Bench <names> (which stamps per-phase build/serve
seconds via PhaseTimer), reads the capped-audit recall at the default
auto geometry via graft.IvfProbe, and writes BENCH_IVF_MLLIB.json.

Usage: python3 scripts/bench_mllib.py [--skip-gen]
Prerequisite: compiled classes (sbt compile).
"""
import json, os, re, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
from make_artifacts import OPENS, bench_queries

CP = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
VDIR = os.path.join(REPO, "data", "sfvec300k")
N_VEC = 300000
# the q58 self-validation floor (recall_ok pins >= 0.5); the committed
# measured figures on the priced fixtures are 0.53-0.63
RECALL_FLOOR = 0.5

QUERIES = ["q58_ivf_nn", "q74_ivf_topk", "q92_ivf_stored_nn",
           "q116_ivf_serve", "q144_ivfpq_serve"]


def sh(cmd, env=None, capture=False):
    res = subprocess.run(cmd, shell=True, env=env, text=True,
                         capture_output=capture)
    if res.returncode != 0:
        raise SystemExit(f"command failed (rc={res.returncode}): {cmd}")
    return res.stdout if capture else None


def main():
    if "--skip-gen" not in sys.argv:
        sh(f"java {OPENS} -Xmx24g -cp '{CP}' graft.MakeScale --vectors "
           f"/root/testdata/sf0.1 {VDIR} {N_VEC}")

    times = bench_queries(VDIR, QUERIES, "/tmp/bench_mllib.json")

    # capped-audit recall at the DEFAULT auto geometry (k=auto resolves
    # to ceil(sqrt(300000)) = 548, nprobe auto = ceil(548/8) = 69,
    # trainer auto-dispatches to MLlib KMeans past the 512-cell handoff)
    out = sh(f"java {OPENS} -Xmx24g -cp '{CP}' graft.IvfProbe {VDIR} auto:auto",
             env=dict(os.environ, SPARK_GRAFT_CPUS="32"), capture=True)
    m = re.search(r"recall=([0-9.]+) answered=(\d+)/(\d+) rerank_exact=(\w+)", out)
    if not m:
        raise SystemExit(f"could not parse IvfProbe output:\n{out}")
    recall = float(m.group(1))
    answered, sample = int(m.group(2)), int(m.group(3))
    rerank_exact = m.group(4) == "true"

    art = {
        "_meta": "MLlib-trainer geometry leg (VERDICT r19 #2): 300k-vector "
                 "embeddings-only tier (graft.MakeScale --vectors, per-label "
                 "Gaussian fit to sf0.1) where auto IVF k=ceil(sqrt(n))=548 "
                 "> the 512-cell handoff, so ivfTrainer resolves to "
                 "DISTRIBUTED MLlib KMeans by default — the path that "
                 "carries the 100 TB claim, previously spec-pinned only at "
                 "a forced k=520 on 10k vectors. Times via graft.Bench <names> "
                 "(1 cold + upper median of every successful warm run, "
                 "noop sink); phases_* are "
                 "PhaseTimer build/validate seconds (cold run pays the "
                 "artifact build; serve = warm - phases_warm). Recall via "
                 "graft.IvfProbe at the default auto geometry over the "
                 "capped q58 audit slice (<=500 query points, exact "
                 "brute-force reference).",
        "n_vectors": N_VEC,
        "auto_k": 548, "auto_nprobe": 69, "trainer": "mllib",
        "queries": times,
        "recall_at_1": recall,
        "recall_floor": RECALL_FLOOR,
        "recall_ok": recall >= RECALL_FLOOR,
        "audit_answered": answered, "audit_sample": sample,
        "rerank_exact": rerank_exact,
    }
    path = os.path.join(REPO, "BENCH_IVF_MLLIB.json")
    json.dump(art, open(path, "w"), indent=1)
    print(f"[mllib] wrote {path}")
    print(f"[mllib] recall@1={recall} (floor {RECALL_FLOOR}) "
          f"rerank_exact={rerank_exact} answered={answered}/{sample}")
    for q, v in times.items():
        print(f"[mllib] {q}: cold={v['cold']}s warm={v['warm']}s "
              f"phases_cold={v.get('phases_cold', {})} "
              f"phases_warm={v.get('phases_warm', {})}")


if __name__ == "__main__":
    main()
