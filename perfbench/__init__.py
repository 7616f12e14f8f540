"""Repository benchmark: the octree pipeline and a query mix, timed end
to end and split by layer. Entry point: ``python3 perfbench/run.py``."""
