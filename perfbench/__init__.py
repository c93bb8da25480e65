"""Layer-attributed benchmark of whitebox_tools_spark; entry point run.py."""
