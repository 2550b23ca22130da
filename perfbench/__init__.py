"""Gateway benchmark for kukur_spark; run ``python3 perfbench/run.py --help``."""
