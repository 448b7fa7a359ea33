"""Column-function library (JVM-side expressions only): the tokenizer,
language ID and quality scoring (``text``) and the Morton
bit-interleave (``zorder``). Callers import from the submodules."""
