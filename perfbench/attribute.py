#!/usr/bin/env python3
"""Split one query's time by layer, from a traced run's artifact alone.

    python3 perfbench/attribute.py .bench_build/results/llm_dedup-s1-t1.json llm_ngram_jaccard

Prints the median self time per layer over the query's traced warm
executions, and the time its per-document kernels take by the run's own
`functions.*` measurements. Kernel time is CPU time inside the exec layer's
tasks, summed over tasks, so it is a part of `exec`, not a sixth slice.
"""
import json
import statistics
import sys

# The TextHashOps kernels a query calls per document: the minhash
# signature build (word hashes, shingles, signature) and the bigram set of
# the Jaccard verify.
KERNELS = {
    "llm_ngram_jaccard": ["word_hashes_text_ns", "hash_grams_ns", "minhash_sig_ns",
                          "hash_grams_ns"],
}
LAYERS = ["queries.build", "plans", "codegen", "exec", "query"]


def main():
    path, query = sys.argv[1], sys.argv[2]
    art = json.load(open(path))
    rows = [r for r in art["trace_rows"] if r["query"] == query and r["pass"] > 0]
    if not rows:
        sys.exit(f"no traced warm executions of {query} in {path}")
    wall = statistics.median(r["wall_ms"] for r in rows)
    print(f"{query}: {len(rows)} traced warm executions, median wall {wall:.1f} ms")
    for layer in LAYERS:
        ms = statistics.median(r["self_ms"].get(layer, 0.0) for r in rows)
        label = "driver, unattributed" if layer == "query" else layer
        print(f"  {label:22s} {ms:8.1f} ms  {100 * ms / wall:5.1f} %")
    metrics = art["result"]["metrics"]
    ns = sum(metrics["functions." + k]["value"] for k in KERNELS.get(query, []))
    kernel_ms = ns * art["documents"] / 1e6
    print(f"  {'kernels (in exec)':22s} {kernel_ms:8.1f} ms  {100 * kernel_ms / wall:5.1f} %"
          f"  ({art['documents']} docs x {ns:.0f} ns)")


if __name__ == "__main__":
    main()
