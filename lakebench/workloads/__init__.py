"""One module per workload. Each exposes ``run(ctx) -> dict`` (attempted,
failed, problems, e2e, details) and ``layers(ctx, res,
windows) -> dict`` for the traced mode."""
