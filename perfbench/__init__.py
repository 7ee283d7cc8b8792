"""Crawl-engine benchmark: seeded workloads timed end to end, checked
against the pure-Python oracle or the generator's ground truth.

Run ``python3 perfbench/run.py --workload <drain|images> --seed N
--seconds S --trace <0|1>`` from the repository root; see README.md.
"""
