"""The repository benchmark: CDC relay latency and throughput plus the
curation query batch. Entry point: ``python3 perfbench/run.py``."""
